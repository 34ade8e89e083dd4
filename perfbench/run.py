#!/usr/bin/env python3
"""Product-path benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload pivot_serve --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (sbt, first run only),
generates the synthetic data (first run only), draws the workload's
inputs from the seed, computes every expected answer with DuckDB, runs
the workload on a local Spark session, checks every output, and prints
one JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics; with
--trace 1 its per-layer metrics, and the span file, span summary and
per-layer summary are written under perfbench/results/. Exits non-zero on
any failed or wrong output.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
# Class-data-sharing archive of the classes a workload loads. The first run
# after a build writes it at exit; later runs map it, which takes about
# 6 s of class loading out of every run (4 vCPU) and lets all runs of the
# benchmark fit its time budget.
CDS_ARCHIVE = os.path.join(WORK, "classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# A run must end within 180 s of the build: the workload's JVM gets 150 s,
# the rest is left for drawing inputs and checking outputs.
JVM_TIMEOUT_S = 150

# Per-workload settings (described in WORKLOADS.md).
CONFIG = {
    "pivot_serve": {"clients": 4, "requests_per_client": 400,
                    "mix": {"pivot": 60, "pivot_uncovered": 10, "pivot_cross": 5,
                            "browse": 15, "dmv": 10}},
    "job_drain": {"clients": 2, "drainers": 2, "jobs_per_client": 200, "distinct_jobs": 2,
                  "maintain_every": 3, "poll_ms": 500, "drainer_idle_ms": 50},
}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main", "resources")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest:
            return b["classpath"]
    log("building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Xmx2g -Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repo_cfg}"
        if os.path.exists(repo_cfg) else ""))
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"sbt build failed (exit {r.returncode})")
    cp = [ln for ln in r.stdout.splitlines() if ln.startswith("/") and ".jar" in ln][-1].strip()
    os.makedirs(WORK, exist_ok=True)
    # the archive takes classes from jar files only
    entries = cp.split(":")
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            entries[i] = os.path.join(WORK, f"classes-{i}.jar")
            subprocess.run(["jar", "--create", "--file", entries[i], "-C", e, "."], check=True, timeout=300)
    cp = ":".join(entries)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def ensure_data():
    path = os.path.join(WORK, "data")
    if not os.path.exists(path):
        log("generating data")
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), path],
                       check=True, timeout=300)
    return path


def run_jvm(classpath, plan_path, result_path, log_path):
    tmp = os.path.join(os.path.dirname(plan_path), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = "SharedArchiveFile" if os.path.exists(CDS_ARCHIVE) else "ArchiveClassesAtExit"
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap and young generation keep peak RSS from following
        # the collector's heap-growth decisions
        "-Xms3g", "-Xmx3g", "-Xmn768m", f"-XX:{cds}={CDS_ARCHIVE}",
        "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
        "perfbench.Main", plan_path, result_path]
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=os.path.dirname(plan_path))
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("the workload did not finish in time")
    with open(log_path) as f:
        text = f.read()
    for line in text.splitlines():
        if line.startswith("[perfbench-jvm"):
            print(line, file=sys.stderr)
    if rc != 0:
        sys.stderr.write(text[-6000:])
        raise SystemExit(f"the workload's JVM exited with {rc}")


def metric_block(names, values):
    out = {}
    for m in names:
        out[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cfg = CONFIG[a.workload]
    classpath = build()
    data = ensure_data()

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log("drawing inputs and computing expected answers")
    plan_body, expected = workloads.make_plan(a.workload, a.seed, data, cfg)
    plan = {"workload": a.workload, "data": data, "work": run_dir,
            "cores": min(4, os.cpu_count() or 4), "seconds": a.seconds,
            "trace": a.trace,
            "poll_ms": cfg.get("poll_ms", 0), "drainers": cfg.get("drainers", 0),
            "drainer_idle_ms": cfg.get("drainer_idle_ms", 0), **plan_body}
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    log("running the workload")
    result_path = os.path.join(run_dir, "result.json")
    run_jvm(classpath, plan_path, result_path, os.path.join(run_dir, "jvm.log"))
    with open(result_path) as f:
        res = json.load(f)

    log("checking outputs")
    problems = []
    if a.workload == "pivot_serve":
        bad = workloads.check_pivot_serve(res, expected, problems)
        failed = sum(n for k, n in res["requests_by_key"].items() if k in bad)
        failed += len(res["inconsistent"]) + sum(res["errors"].values())
        problems += [f"request {i} disagrees with an earlier answer" for i in res["inconsistent"]]
        failed += len(workloads.check_registry(res, data, WORK, problems))
    else:
        bad = workloads.check_job_drain(res, plan, expected, data, problems)
        failed = len(bad) + res["errors"]
    for p in problems[:20]:
        log(f"WRONG: {p}")

    attempted = max(1, int(res["attempted"]) + len(res.get("registry_rows", {})))
    out = os.path.join(RESULTS, a.workload, f"seed-{a.seed}")
    os.makedirs(out, exist_ok=True)
    if a.trace:
        metrics = metric_block(bench["per_layer"], res["layers"])
        for f in ("spans.jsonl", "span_summary.json"):
            shutil.copy(os.path.join(run_dir, "trace", f), out)
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "metrics": metrics,
                       "all_layers": res["layers"], "end_to_end_traced": res["end_to_end"],
                       "ledger": res.get("ledger"), "setup": res["setup"]}, f, indent=1)
    else:
        metrics = metric_block(bench["end_to_end"], res["end_to_end"])
        with open(os.path.join(out, "end_to_end.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "metrics": metrics,
                       "attempted": attempted, "failed": failed, "setup": res["setup"],
                       "detail": {k: res[k] for k in ("requests_by_kind", "host") if k in res}}, f, indent=1)
    line = {"correct": failed == 0 and not problems, "attempted": attempted,
            "failed": int(failed), "metrics": metrics}
    if line["correct"]:
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        log(f"kept {run_dir} for inspection")
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
