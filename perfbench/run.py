"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tfidf-batch --seed 1 --seconds 12 --trace 0

Builds the engine and harness from the checkout's sources (once per source
digest), generates the workload's inputs from the seed, computes the
expected answers, then runs the harness in one JVM with Spark threads =
`nproc`. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, and the spans (with their self times), Spark jobs and
planning records are written to `.bench_build/perfbench/traces/`.
The line before it is an `info` record: the run's environment (nproc, Spark
threads, driver heap, load average at start and end) and input summary.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("tfidf-batch", "curate-append")
HEAP = "3g"
DEADLINE_S = 170  # a run must end within 180 s

# the module openings Spark needs on JDK 17 outside spark-submit (the same
# list the repository's build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(classes, workload, data, work, expected, out, seconds, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.classpath(build.spark_jars()),
            "graft.perfbench.Harness", "--workload", workload, "--data", data, "--work", work,
            "--expected", expected, "--out", out, "--seconds", str(seconds),
            "--trace", "1" if trace else "0"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    log = os.path.join(work, "harness.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env, cwd=work,
                                timeout=max(10, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def end_to_end(res, gen_s):
    ops = [o for o in res["ops"] if o["phase"] == "measured"]
    setup = res["setup"]
    return {
        "setup_s": (gen_s + setup["session_start_s"] + setup.get("build_s", 0.0), "s"),
        "op_p50_s": (stats.median([o["ms"] for o in ops]) / 1e3, "s"),
        "ok_rate": (sum(1 for o in ops if o["ok"]) / len(ops), "ratio"),
        "cache_peak_mb": (res["cache_peak_bytes"] / 1e6, "MB"),
        "pins_left": (sum(o["pins"] for o in ops) / len(ops), "count"),
    }


def per_layer(res):
    spans, jobs, plans = res["spans"], res["jobs"], res["plans"]
    cpus = res["cpus"]
    c = res["counters"]
    by_id = {s["id"]: s for s in spans}
    phase = {o["span"]: o["phase"] for o in res["ops"] if "span" in o}

    def op_of(s):
        while s["parent"]:
            s = by_id[s["parent"]]
        return s

    def dur_s(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def named(name):
        return [s for s in spans if s["name"] == name]

    def one(name):
        return dur_s(named(name)[-1])

    def per_op(names, f=dur_s):
        """Median over ops (warm-ups aside) of the summed value of spans `names`."""
        sums = {}
        for s in spans:
            if s["name"] in names:
                op = op_of(s)
                if phase.get(op["id"], "warm") != "warm":
                    sums[op["id"]] = sums.get(op["id"], 0.0) + f(s)
        return stats.median(list(sums.values()))

    def n_jobs(s):
        return float(len(stats.jobs_under(spans, jobs, s["id"])))

    m = {"session.start_s": (res["setup"]["session_start_s"], "s")}
    m["sources.scan_s"] = (one("sources.scan"), "s")
    m["sources.input_mb"] = (c["sources.input_mb"], "MB")
    m["sources.rows"] = (c["sources.rows"], "count")
    tok_s = one("functions.tokenize")
    m["functions.tokenize_s"] = (tok_s, "s")
    m["functions.tokens"] = (c["functions.tokens"], "count")
    m["functions.tokens_per_core_s"] = (c["functions.tokens"] / (tok_s * cpus), "1/s")
    m["functions.shingle_s"] = (one("functions.shingle"), "s")
    for step in ("count", "totals", "score", "rank"):
        s = named(f"tfidf.{step}")[-1]
        js = stats.jobs_under(spans, jobs, s["id"])
        m[f"tfidf.{step}_s"] = (dur_s(s), "s")
        m[f"tfidf.{step}.shuffle_mb"] = (sum(j["shuffle_write_bytes"] for j in js) / 1e6, "MB")
        m[f"tfidf.{step}.spill_mb"] = (sum(j["spill_bytes"] for j in js) / 1e6, "MB")
        m[f"tfidf.{step}.tasks"] = (float(sum(j["tasks"] for j in js)), "count")
        m[f"tfidf.{step}.rows_out"] = (c[f"tfidf.{step}.rows_out"], "count")
    m["dedup.signature_s"] = (one("dedup.signature"), "s")
    m["dedup.pairs_s"] = (per_op({"dedup.pairs"}), "s")
    m["dedup.candidate_pairs"] = (c["dedup.candidate_pairs"], "count")
    m["dedup.verified_pairs"] = (c["dedup.verified_pairs"], "count")
    m["dedup.pair_yield"] = (c["dedup.verified_pairs"] / max(1.0, c["dedup.candidate_pairs"]), "ratio")
    m["dedup.cc_s"] = (per_op({"dedup.cc"}), "s")
    m["dedup.cc_jobs"] = (per_op({"dedup.cc"}, n_jobs), "count")
    m["curation.span_s"] = (one("curation.span"), "s")
    m["curation.decon_s"] = (one("curation.decon"), "s")
    m["similarity.knn_s"] = (per_op({"similarity.knn"}), "s")
    m["similarity.ivf_s"] = (per_op({"similarity.ivf"}), "s")
    m["streams.admit_s"] = (per_op({"streams.manifestAdmission"}), "s")
    m["streams.admit_jobs"] = (per_op({"streams.manifestAdmission"}, n_jobs), "count")
    for name in sorted(k for k in c if k.startswith("assets.")):
        m[name] = (c[name], "s")
    sched = [stats.op_sched(by_id[i], spans, jobs, plans, cpus)
             for i, p in phase.items() if p == "measured"]
    for key, name, unit in (("analysis_ms", "plan.analysis_ms", "ms"),
                            ("optimizer_ms", "plan.optimizer_ms", "ms"),
                            ("physical_ms", "plan.physical_ms", "ms"),
                            ("jobs", "sched.jobs_per_op", "count"),
                            ("stages", "sched.stages_per_op", "count"),
                            ("tasks", "sched.tasks_per_op", "count"),
                            ("gap_ms", "sched.gap_ms_per_op", "ms"),
                            ("busy_frac", "sched.busy_frac", "ratio"),
                            ("gc_ms", "sched.task_gc_ms", "ms")):
        m[name] = (float(stats.median([x[key] for x in sched])), unit)
    m["cache.written_mb"] = (res["cache_written_bytes"] / 1e6, "MB")
    m["cache.evicted_blocks"] = (float(res["cache_dropped_blocks"]), "count")
    m["trace.overhead_ms"] = (stats.median([o["trace_ms"] for o in res["ops"]
                                            if o["phase"] == "measured"]), "ms")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    load_start = os.getloadavg()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    import gen
    import oracle

    base = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    data, work = os.path.join(base, "data"), os.path.join(base, "work")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.perf_counter()
        summary = gen.generate(a.workload, a.seed, data)
        gen_s = time.perf_counter() - t
        exp_path = os.path.join(base, "expected.json")
        with open(exp_path, "w") as f:
            json.dump(oracle.expected(data, a.seed, work), f)
        res = run_harness(classes, a.workload, data, work, exp_path,
                          os.path.join(base, "result.json"), a.seconds, a.trace == 1, deadline)
    except Exception as e:  # the run produced no result: report and fail
        print(f"perfbench: {e}", file=sys.stderr)
        shutil.rmtree(base, ignore_errors=True)
        return 1
    finally:
        load_end = os.getloadavg()

    measured = [o for o in res["ops"] if o["phase"] == "measured"]
    failed = sum(1 for o in measured if not o["ok"])
    correct = all(o["ok"] for o in res["ops"])
    if a.trace:
        metrics = per_layer(res)
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        self_ms = stats.self_times(res["spans"])
        for s in res["spans"]:
            s["self_ms"] = self_ms[s["id"]]
        with open(os.path.join(traces, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({k: res[k] for k in ("spans", "jobs", "plans", "ops", "setup")}, f)
        e2e = end_to_end(res, gen_s)
    else:
        metrics = e2e = end_to_end(res, gen_s)
    shutil.rmtree(base, ignore_errors=True)

    info = {
        "info": {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                 "nproc": nproc(), "spark_threads": res["cpus"], "driver_heap_mb": res["heap_mb"],
                 "loadavg_start": load_start[0], "loadavg_end": load_end[0],
                 "input": summary, "gen_s": gen_s, "setup": res["setup"],
                 "ops": {k: sum(1 for o in measured if o["kind"] == k)
                         for k in sorted({o["kind"] for o in measured})},
                 "op_ms": [[o["phase"], o["kind"], round(o["ms"])] for o in res["ops"]],
                 "end_to_end": {k: v for k, (v, _) in e2e.items()},
                 "errors": [o.get("error", o["kind"]) for o in res["ops"] if not o["ok"]]},
    }
    print(json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": len(measured), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
