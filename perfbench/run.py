#!/usr/bin/env python3
"""graft benchmark: closed loop, one client, one fresh JVM per run on
local[<cpus>]. See perfbench/README.md for workloads and metrics.

    python3 perfbench/run.py --workload NAME|all --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --freeze        # re-take expected output folds

Run from the root of a graft checkout. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}; the lines before it
give the configuration and the host-noise reading. Artifacts go to
<build dir>/perfbench/results/. Exits non-zero when an output fold differs
from perfbench/expected_folds.json or a step fails.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

# The seed picks which keys the second merge batch updates: those ending
# in one of these digits. Every choice's fold is in expected_folds.json.
UPDATE_DIGITS = [str(d) for d in range(10)]

# Two workloads that load different layers (README.md gives the reasons).
WORKLOADS = {
    # the reference pipelines as submitted: the only writers; the second
    # merge reads back its own output
    "etl_reference": ["etl:distinct_upsert_merge", "etl:preprocess_all_months"],
    # candidate-generating similarity joins: exchange, join and persist
    "dedup_joins": ["q:q_dedup_chargram", "q:q_setsim_join"],
}

DRIVER_MEMORY = "3g"
RUN_DEADLINE_S = 170       # a run must end within 180 s
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def cpus():
    """Task slots: every CPU the process may use but one, which is left to
    the driver, JIT and GC threads and to other load on the host. With a
    slot on every CPU, a CPU lost to steal stalls a task and its stage."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def digest(paths, root):
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(root, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, out):
    """Compiles graft and the harness with sbt once per source digest and
    caches the runtime classpath."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    stamp = digest(sources, root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return read(cp_file).strip(), stamp
    # resolve only from the local caches, as the root build expects
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=os.path.join(root, "perfbench"),
                           stdout=subprocess.PIPE, stderr=fh, text=True, timeout=800, env=env)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError(f"build failed (exit {p.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1], stamp


def data_dir(root, out):
    """Generates the input tables once per version of gen_data.py."""
    d = os.path.join(out, "data-" + digest(["perfbench/gen_data.py"], root))
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        import gen_data
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d)
        open(done, "w").close()
    return d


def read(path):
    with open(path) as fh:
        return fh.read()


class Noise:
    """CPU steal from /proc/stat and 1-minute load from /proc/loadavg,
    sampled across a run."""

    def __init__(self):
        self.stat0 = stats.parse_proc_stat(read("/proc/stat"))
        self.loads = []

    def sample(self):
        self.loads.append(float(read("/proc/loadavg").split()[0]))

    def result(self):
        self.sample()
        return {"host.steal_pct": stats.steal_pct(self.stat0, stats.parse_proc_stat(read("/proc/stat"))),
                "host.load1": statistics.mean(self.loads)}


def jvm(cp, args, work, noise, deadline):
    """Starts one harness JVM; returns (set-up seconds, exit code). Set-up
    runs from process start until the session has answered its first action."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{DRIVER_MEMORY}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "a") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            line = p.stdout.readline()
            setup = time.perf_counter() - t0
            if line.strip() != "READY":
                p.wait(timeout=max(1, deadline - time.monotonic()))
                raise BenchError(f"harness did not start (exit {p.returncode}); see {work}/jvm.log")
            while p.poll() is None:
                if time.monotonic() > deadline:
                    raise BenchError("run exceeded its deadline")
                noise.sample()
                time.sleep(0.25)
            p.stdout.read()
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
    return setup, p.returncode


def plan(workload, seed):
    """The seed permutes the step order and picks the merge's update batch."""
    rng = random.Random(seed)
    digit = rng.choice(UPDATE_DIGITS)
    steps = [f"{s}:{digit}" if s == "etl:distinct_upsert_merge" else s
             for s in WORKLOADS[workload]]
    rng.shuffle(steps)
    return steps


def warm_step_medians(steps, field):
    """Each step's median of `field` over the untraced warm passes."""
    vals = {}
    for s in steps:
        if s["kind"] == "warm" and not s["traced"]:
            vals.setdefault(s["step"], []).append(s[field])
    return {k: statistics.median(v) for k, v in vals.items()}


def end_to_end(result, setup_s):
    """warm_s and warm_cpu_s add up each step's median over the warm
    passes, so a noise burst in one pass moves them less than a median of
    pass totals would."""
    steps = result["steps"]
    wall = warm_step_medians(steps, "wall_s")
    passes = {s["pass"] for s in steps if s["kind"] == "warm" and not s["traced"]}
    return {
        "setup_s": setup_s,
        "warm_s": sum(wall.values()),
        "warm_cpu_s": sum(warm_step_medians(steps, "cpu_s").values()),
        "cold_s": sum(s["wall_s"] for s in steps if s["kind"] == "cold"),
        "query_p50_s": stats.percentile(wall.values(), 50),
        "peak_rss_mb": result["peak_rss_kb"] / 1024.0,
    }, {"warm_passes": len(passes), "steps": len(wall)}


def layer_metrics(result):
    """Per-layer metrics of the traced warm passes (median over passes of
    each pass's total), plus the tracing overhead."""
    steps = result["steps"]
    traced = [s for s in steps if s["traced"]]
    untraced = [s for s in steps if s["kind"] == "warm" and not s["traced"]]
    per_pass = {}
    for s in traced:
        per_pass.setdefault(s["pass"], []).append(s)

    def pass_total(ss):
        m = {}
        add = lambda k, v: m.__setitem__(k, m.get(k, 0.0) + v)
        wall = sum(s["wall_s"] for s in ss)
        run_s = 0.0
        for s in ss:
            lay = s["layers"]
            add("persist.rdds", lay["persist_rdds"])
            add("persist.mb", lay["persist_mb"])
            add("build.s", s["build_s"])
            add("sink.s", s["sink_s"])
            for name, ph in lay["phases"].items():
                if name == "check":
                    continue
                c, q = ph["counters"], ph["sql"]
                g = lambda k: c.get(k, 0.0)
                if name == "build":
                    add("build.jobs", ph["jobs"])
                else:
                    add("sched.driver_gap_s", max(0.0, s[f"{name}_s"] - ph["busy_s"]))
                add("sched.jobs", ph["jobs"])
                add("sched.stages", ph["stages"])
                add("sched.tasks", ph["tasks"])
                run_s += g("run_s")
                add("task.run_s", g("run_s"))
                add("task.cpu_s", g("cpu_s"))
                add("task.gc_s", g("gc_s"))
                add("codegen.s", q.get("codegen_s", 0.0))
                add("scan.s", q.get("scan_s", 0.0))
                add("scan.bytes", g("input_bytes"))
                add("scan.rows", g("input_rows"))
                add("scan.files", q.get("scan_files", 0.0))
                add("exchange.nodes", q.get("exchange_nodes", 0.0))
                add("exchange.partitions", g("reduce_tasks"))
                add("exchange.write_bytes", g("shuffle_write_bytes"))
                add("exchange.read_bytes", g("shuffle_read_bytes"))
                add("exchange.records", g("shuffle_write_records"))
                add("exchange.fetch_wait_s", g("fetch_wait_s"))
                add("join.rows_out", q.get("join_rows_out", 0.0))
                add("agg.s", q.get("agg_s", 0.0))
                add("sort.s", q.get("sort_s", 0.0))
                add("spill.bytes", g("spill_bytes"))
                m["task.peak_mem_mb"] = max(m.get("task.peak_mem_mb", 0.0), g("peak_mem_bytes") / 2**20)
                m["stage.skew"] = max(m.get("stage.skew", 1.0), ph["skew"])
                add("persist.scan_rows", q.get("inmem_scan_rows", 0.0))
                add("sink.bytes", q.get("sink_bytes", 0.0))
                add("sink.files", q.get("sink_files", 0.0))
                add("sink.rows", q.get("sink_rows", 0.0))
        result_rows = sum(f["rows"] for s in ss for f in s["folds"])
        m["join.rows_per_result_row"] = m.get("join.rows_out", 0.0) / max(1, result_rows)
        m["sched.util"] = run_s / (result["cpus"] * wall) if wall > 0 else 0.0
        m["warm_s"] = wall
        return m

    totals = [pass_total(ss) for ss in per_pass.values()]
    out = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
    untraced_passes = {}
    for s in untraced:
        untraced_passes[s["pass"]] = untraced_passes.get(s["pass"], 0.0) + s["wall_s"]
    out["trace.overhead_s"] = out.pop("warm_s") - statistics.median(untraced_passes.values())
    return out


def attribution(result):
    """Splits each traced warm step's wall time into build, execute layers
    (scan, exchange, operator, sink) and driver gap.

    Within the execute and sink phases, the time some task was running is
    divided in proportion to summed task time between parquet scan
    (scanTime), exchange (shuffle write time + fetch wait) and the rest; of
    the rest, the write commands' task and job commit time is sink, and
    what remains is operator (per-row expressions, decode, joins,
    aggregates, and the rows a write computes). Driver gap is phase time
    with no task running."""
    rows = {}
    for s in result["steps"]:
        if not s["traced"]:
            continue
        r = {"build_s": s["build_s"], "build_jobs": 0, "scan_s": 0.0, "exchange_s": 0.0,
             "operator_s": 0.0, "sink_s": 0.0, "driver_gap_s": 0.0, "wall_s": s["wall_s"]}
        for name, ph in s["layers"]["phases"].items():
            if name == "build":
                r["build_jobs"] = ph["jobs"]
                continue
            if name == "check":
                continue
            c, q = ph["counters"], ph["sql"]
            wall = s[f"{name}_s"]
            busy = min(ph["busy_s"], wall)
            r["driver_gap_s"] += wall - busy
            task = c.get("run_s", 0.0)
            if task <= 0:
                r["operator_s"] += busy
                continue
            scan = min(task, q.get("scan_s", 0.0))
            exch = min(task - scan, c.get("shuffle_write_s", 0.0) + c.get("fetch_wait_s", 0.0))
            r["scan_s"] += busy * scan / task
            r["exchange_s"] += busy * exch / task
            rest = busy * (task - scan - exch) / task
            sink = min(rest, q.get("sink_commit_s", 0.0))
            r["sink_s"] += sink
            r["operator_s"] += rest - sink
        rows.setdefault(s["step"], []).append(r)
    out = []
    for step, rs in rows.items():
        med = {k: statistics.median(r[k] for r in rs) for k in rs[0]}
        med["step"] = step
        out.append(med)
    return sorted(out, key=lambda r: -r["wall_s"])


def config(workload, seed, seconds, trace, result, data_digest, src_digest, root):
    sha = None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"bench": "perfbench", "workload": workload, "seed": seed, "run_seconds": seconds,
            "trace": trace, "cpus": result["cpus"], "master": f"local[{result['cpus']}]",
            "driver_memory": DRIVER_MEMORY, "max_heap_mb": result["max_heap_mb"],
            "spark_version": result["spark_version"], "java_version": result["java_version"],
            "data": "perfbench/gen_data.py (sf0.01 shape)", "data_digest": data_digest,
            "source_digest": src_digest, "git_sha": sha}


def run_one(root, out, cp, src_digest, workload, seed, seconds, trace, expected, steps=None):
    deadline = time.monotonic() + RUN_DEADLINE_S
    data = data_dir(root, out)
    data_digest = digest(["."], data)
    steps = steps or plan(workload, seed)
    work = os.path.join(out, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    results_dir = os.path.join(out, "results")
    os.makedirs(results_dir, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    noise = Noise()
    base = ["--data", data, "--work", work, "--cpus", str(cpus())]
    setup_s, rc = jvm(cp, ["--steps", ",".join(steps), "--seconds", str(seconds),
                           "--trace", str(trace), "--result", result_file] + base,
                      work, noise, deadline)
    if rc != 0 or not os.path.exists(result_file):
        raise BenchError(f"harness exited {rc} without a result; see {work}/jvm.log")
    with open(result_file) as fh:
        result = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    host = noise.result()
    cfg = config(workload, seed, seconds, trace, result, data_digest, src_digest, root)
    failures = stats.fold_failures(result["steps"], expected)
    e2e, samples = end_to_end(result, setup_s)
    artifact = {"config": cfg, "noise": host, "end_to_end": e2e, "samples": samples,
                "attempted": len(result["steps"]),
                "failed": len({(p, s) for p, s, _ in failures}), "failures": failures,
                "steps": [{k: v for k, v in s.items() if k != "layers"} for s in result["steps"]]}
    artifact["fail_ratio"] = artifact["failed"] / artifact["attempted"]
    if trace:
        artifact["per_layer"] = {**layer_metrics(result), **host}
        artifact["attribution"] = attribution(result)
        with open(os.path.join(results_dir, f"{workload}-seed{seed}-spans.json"), "w") as fh:
            json.dump({"config": cfg, "spans": result["spans"],
                       "steps": result["steps"]}, fh)
    name = f"{workload}-seed{seed}-trace{trace}.json"
    with open(os.path.join(results_dir, name), "w") as fh:
        json.dump(artifact, fh, indent=1)
    return artifact


# End-to-end metrics gated in BENCHMARK.json. The artifact also records
# cold_s, warm_cpu_s, query_p50_s and peak_rss_mb. With one cold pass and
# one driver JVM per run, cold_s and peak_rss_mb are single samples that
# host noise and G1's heap sizing move by more than the largest bound
# (0.25) allows; warm_cpu_s spread as widely as warm_s over seeds on the
# measured host; with two steps per workload, query_p50_s is half of warm_s.
UNITS = {"warm_s": "s", "setup_s": "s"}
INFO_UNITS = {"warm_cpu_s": "s", "cold_s": "s", "query_p50_s": "s", "peak_rss_mb": "MB"}


# Per-layer metrics of a traced run, with units, in BENCHMARK.json order.
PER_LAYER = {
    "build.s": "s", "build.jobs": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_s": "s", "sched.util": "1",
    "scan.s": "s", "scan.bytes": "bytes", "scan.rows": "count", "scan.files": "count",
    "task.cpu_s": "s", "task.run_s": "s", "task.gc_s": "s", "codegen.s": "s",
    "exchange.nodes": "count", "exchange.partitions": "count", "exchange.write_bytes": "bytes",
    "exchange.read_bytes": "bytes", "exchange.records": "count", "exchange.fetch_wait_s": "s",
    "join.rows_out": "count", "join.rows_per_result_row": "1", "agg.s": "s", "sort.s": "s",
    "spill.bytes": "bytes", "task.peak_mem_mb": "MB", "stage.skew": "1",
    "persist.rdds": "count", "persist.mb": "MB", "persist.scan_rows": "count",
    "sink.s": "s", "sink.bytes": "bytes", "sink.files": "count", "sink.rows": "count",
    "host.steal_pct": "%", "host.load1": "1", "trace.overhead_s": "s",
}


def report(artifact, trace):
    print("# config " + json.dumps(artifact["config"], sort_keys=True))
    print("# noise " + json.dumps(artifact["noise"], sort_keys=True))
    for p, s, why in artifact["failures"]:
        print(f"# FAIL pass {p} {s}: {why}")
    print(f"# fail_ratio {artifact['fail_ratio']:.4f} "
          f"({artifact['failed']} of {artifact['attempted']} steps)")
    if trace:
        metrics = {k: {"value": artifact["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
        for r in artifact["attribution"][:20]:
            print("# attribution " + json.dumps({k: (round(v, 4) if isinstance(v, float) else v)
                                                 for k, v in r.items()}))
    else:
        metrics = {k: {"value": artifact["end_to_end"][k], "unit": u} for k, u in UNITS.items()}
        for k, v in artifact["end_to_end"].items():
            print(f"# {artifact['config']['workload']:<14} {k:<12} {v:.4f} "
                  f"{UNITS.get(k) or INFO_UNITS[k]}")
    print(json.dumps({"correct": artifact["failed"] == 0, "attempted": artifact["attempted"],
                      "failed": artifact["failed"], "metrics": metrics}))


def freeze(root, out, cp, src_digest, expected_path):
    """Runs every step of every workload (every update batch) through one
    run and records the output folds; a fold that differs between passes is
    not deterministic and stops the freeze."""
    folds = {}
    for w in WORKLOADS:
        steps = [s for s in WORKLOADS[w] if s != "etl:distinct_upsert_merge"]
        if len(steps) != len(WORKLOADS[w]):
            steps += [f"etl:distinct_upsert_merge:{d}" for d in UPDATE_DIGITS]
        a = run_one(root, out, cp, src_digest, w, 0, 0, 0, {}, steps=steps)
        for s in a["steps"]:
            if s["error"]:
                raise BenchError(f"{s['step']} failed: {s['error']}")
            for f in s["folds"]:
                got = {"fold": f["fold"], "rows": f["rows"]}
                if folds.setdefault(f["label"], got) != got:
                    raise BenchError(f"{f['label']} is not deterministic: {folds[f['label']]} vs {got}")
    folds["__data_digest__"] = a["config"]["data_digest"]
    with open(expected_path, "w") as fh:
        json.dump(folds, fh, indent=1, sort_keys=True)
    print(f"froze {len(folds) - 1} folds into {expected_path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=26)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--freeze", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala"))):
        sys.exit("perfbench: run from the root of a graft checkout (build.sbt and src/ not found)")
    if a.workload != "all" and a.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload}; choose from {sorted(WORKLOADS)}")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    expected_path = os.path.join(HERE, "expected_folds.json")
    try:
        cp, src_digest = build(root, out)
        if a.freeze:
            return freeze(root, out, cp, src_digest, expected_path)
        expected = json.load(open(expected_path))
        names = list(WORKLOADS) if a.workload == "all" else [a.workload]
        ok = True
        for w in names:
            artifact = run_one(root, out, cp, src_digest, w, a.seed, a.seconds, a.trace, expected)
            if artifact["config"]["data_digest"] != expected.get("__data_digest__"):
                print("# FAIL generated data differs from the data the folds were taken on")
                artifact["failed"] = artifact["attempted"]
            report(artifact, a.trace)
            ok = ok and artifact["failed"] == 0
    except BenchError as e:
        sys.exit(f"perfbench: {e}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
