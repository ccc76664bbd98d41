#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
generates the seeded inputs, runs one benchmark JVM (set-up, a
closed-loop measured phase with one client, output checks), checks
batch_queries results against DuckDB, and prints a detail line followed by
the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The detail line and
<build dir>/results/<workload>-s<seed>-t<trace>.json carry everything else:
the seed, the host, workload-specific metrics and the per-layer report.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_queries", "index_serving")
TABLES = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 170
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(r) for n in ns)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(bdir):
    """Compile engine + harness once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    stamp = sources_stamp()
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.repository.config="
                        + os.path.expanduser("~/.sbt/repositories")
                        + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    with open(os.path.join(bdir, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        with open(os.path.join(bdir, "build.log"), "a") as log:
            log.write(p.stdout)
        sys.stderr.write("\n".join(l for l in lines if "[error]" in l)[-4000:] + "\n")
        fail(f"build failed (see {bdir}/build.log)")
    cp = lines[-1].strip()
    archive_classes(bdir, cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def archive_classes(bdir, cp):
    """Dump the classes a short batch_queries run loads into a class-data
    archive (AppCDS) that every later run maps instead of loading them:
    JVM start and the cold set-up get ~30% shorter, on both sides of
    any comparison."""
    jsa = os.path.join(bdir, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    work = os.path.join(bdir, "cds-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--seed", "0",
                        "--out", os.path.join(work, "input"), "--workload", "batch_queries"], check=True)
        run_jvm(cp, work, ["--workload", "batch_queries", "--seed", "0", "--seconds", "0", "--trace", "0",
                           "--input", os.path.join(work, "input"), "--tables", TABLES, "--work", work,
                           "--out", os.path.join(work, "result.json")], 600,
                [f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, work, args, timeout, extra=None):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jsa = os.path.join(build_dir(), "classes.jsa")
    if extra is None:
        extra = [f"-XX:SharedArchiveFile={jsa}"] if os.path.isfile(jsa) else []
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + extra
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark JVM exceeded {timeout:.0f} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}")


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n):
    """p90 when a run has at least 100 samples, else the highest percentile
    that still has 10 samples beyond it (never below the median)."""
    return 0.9 if n >= 100 else max(0.5, (n - 10) / n) if n else 0.5


def latency(prefix, xs, out):
    if xs:
        q = tail_q(len(xs))
        out[f"{prefix}_p50_s"] = quantile(xs, 0.5)
        out[f"{prefix}_p90_s"] = quantile(xs, q)
        out[f"{prefix}_n"] = len(xs)
        out[f"{prefix}_tail_q"] = q


def metrics_of(res):
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    m = {
        # session start plus set-up (warm-up, corpus seeding, builds)
        "setup_s": res["session_start_s"] + res["setup_body_s"],
        # harness bookkeeping between ops (checks, file listings) is excluded
        "ops_per_s": len(ok) / sum(o["s"] for o in ops),
        "rss_peak_mb": res["host"]["rss_peak_mb"],
    }
    latency("op", [o["s"] for o in ops], m)
    for cls in ("write", "read", "probe"):
        latency(cls, [o["s"] for o in ops if o["cls"] == cls], m)
    ex = res["extras"]
    if "build_s" in ex:
        m["build_s"] = ex["build_s"]
    if ex.get("refresh_rounds_s"):
        m["refresh_s"] = statistics.median(ex["refresh_rounds_s"])
    return m


def check_batch(res, tables):
    """Mark batch_queries ops whose result differs from the DuckDB oracle."""
    import oracle
    sqls = res["extras"]["oracle_sql"]
    want = oracle.oracle_digests(tables, {n: s for n, s in sqls.items() if s})
    for o in res["ops"]:
        if o["ok"] and want.get(o["name"]) != o["digest"]:
            o["ok"] = False
            o["err"] = "result differs from the DuckDB oracle" if o["name"] in want else "no oracle SQL"


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: one workload, one seed")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bdir = build_dir()
    cp = classpath(bdir)
    started = time.time()  # after any build: a run itself must end within 180 s

    work = os.path.join(bdir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wall = {}
    try:
        t = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(a.seed),
                        "--out", os.path.join(work, "input"), "--workload", a.workload], check=True)
        wall["gen_s"] = time.time() - t
        out = os.path.join(work, "result.json")
        t = time.time()
        run_jvm(cp, work, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                           "--trace", str(a.trace), "--input", os.path.join(work, "input"),
                           "--tables", TABLES, "--work", work, "--out", out], JVM_TIMEOUT_S - (time.time() - started))
        wall["jvm_s"] = time.time() - t
        with open(out) as f:
            res = json.load(f)
        t = time.time()
        if a.workload == "batch_queries":
            check_batch(res, TABLES)
        wall["oracle_s"] = time.time() - t
        spans = os.path.join(work, "spans.jsonl")
        keep_spans = os.path.isfile(spans)
        results = os.path.join(bdir, "results")
        os.makedirs(results, exist_ok=True)
        tag = f"{a.workload}-s{a.seed}-t{a.trace}"
        if keep_spans:
            shutil.copy(spans, os.path.join(results, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = metrics_of(res)
    failed_ops = [o for o in res["ops"] + res["checks"] if not o["ok"]]
    attempted = len(res["ops"]) + len(res["checks"])
    m["fail_ratio"] = len(failed_ops) / attempted if attempted else 1.0
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
              "host": res["host"], "session_start_s": res["session_start_s"],
              "setup_body_s": res["setup_body_s"], "phase_s": res["phase_s"],
              "exhausted": res["exhausted"], "wall": dict(wall, run_s=time.time() - started), "metrics": m,
              "failures": [{k: o[k] for k in ("i", "kind", "name", "err")} for o in failed_ops][:20],
              "checks": [{k: o[k] for k in ("name", "ok", "err", "s")} for o in res["checks"]],
              "op_kinds": {k: sum(1 for o in res["ops"] if o["kind"] == k)
                           for k in sorted({o["kind"] for o in res["ops"]})}}
    if a.trace:
        detail["trace"] = res["trace"]
        # tracing overhead: this run's end-to-end figures against an untraced
        # run of the same workload and seed, when one is on record
        untraced = os.path.join(results, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]
            detail["trace_overhead"] = {k: m[k] - base[k] for k in m
                                        if k in base and k.endswith(("_s", "ops_per_s"))}
    ops = [{k: o[k] for k in ("i", "kind", "name", "cls", "s", "ok")} for o in res["ops"]]
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(dict(detail, oracle_sql=res["extras"].get("oracle_sql"), ops=ops), f)
    print(json.dumps(detail))

    if a.trace:
        layer = res["trace"]["metrics"]
        layer["trace.unattributed_s"] = res["trace"]["unattributed_s"]
        chosen = {d["name"]: {"value": layer.get(d["name"], 0.0), "unit": d["unit"]} for d in spec["per_layer"]}
    else:
        chosen = {d["name"]: {"value": m[d["name"]], "unit": d["unit"]} for d in spec["end_to_end"]}
    print(json.dumps({"correct": not failed_ops, "attempted": attempted, "failed": len(failed_ops),
                      "metrics": chosen}))


if __name__ == "__main__":
    main()
