#!/usr/bin/env python3
"""Benchmark of the MWAS engine and its curation queries.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload mwas_batch --seed 1 --seconds 16 \
        --trace 0

Builds the engine and the benchmark from source on first use (sbt; the
classpath is cached under .bench_build/), generates the seeded inputs,
runs one workload in one JVM on local[2] and prints, as its last line,
one JSON object: correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and the
span tree is written to .bench_build/traces/. Exits non-zero when any
operation or output check failed. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import fixtures  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["mwas_batch", "mwas_server", "mwas_stream", "curation_batch"]
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def classpath():
    """The engine + benchmark runtime classpath, built if stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/; run from the "
             "root of a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    cache = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("digest") == digest:
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and benchmark (sbt)", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True,
            timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in p.stdout.splitlines()
             if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cache + ".tmp", "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    os.replace(cache + ".tmp", cache)
    return lines[-1]


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            code = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    return code, log


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    cp = classpath()
    deadline = time.time() + RUN_LIMIT_S
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD_DIR, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    fixture = os.path.join(work, "fixture")
    traffic = {}
    if a.trace or a.workload != "curation_batch":
        traffic.update(fixtures.make_mwas(a.seed,
                                          os.path.join(fixture, "mwas")))
    if a.trace or a.workload == "curation_batch":
        traffic.update(fixtures.make_corpus(a.seed,
                                            os.path.join(fixture, "corpus")))
    result_path = os.path.join(work, "result.json")
    try:
        code, log = run_jvm(cp, [
            "--workload", a.workload, "--fixture", fixture,
            "--work", os.path.join(work, "out"),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--result", result_path], work, deadline)
        if code != 0 or not os.path.exists(result_path):
            sys.stderr.write(tail(log))
            fail(f"engine run ended with code {code}")
        with open(result_path) as f:
            res = json.load(f)
        finish(a, res, traffic, fixture, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def finish(a, res, traffic, fixture, t_start):
    attempted, failures = res["attempted"], list(res["failures"])
    report = dict(res["report"])
    traffic.update(res["traffic"])

    if a.workload == "mwas_batch" and not a.trace:
        rows, sample, problems = checks.welch_sample(
            os.path.join(fixture, "mwas"), res["files"]["batch_combined"],
            a.seed)
        attempted += len(sample) + 1
        if len(rows) != int(traffic.get("contrasts", -1)):
            failures.append(f"combined CSV has {len(rows)} rows, CLI "
                            f"reported {traffic.get('contrasts')}")
        bad = {}
        for key, msg in problems:
            bad.setdefault(key, msg)
        failures += [f"welch recompute {k}: {m}" for k, m in bad.items()]
        traffic.update(checks.route_shares(rows))

    for name, xs in res["samples"].items():
        p90 = metrics.tail_percentile(xs, 0.9)
        base = name[:-2] if name.endswith("_s") else name
        report[f"{base}_p50_s"] = metrics.statistics.median(xs)
        if p90 is not None:
            report[f"{base}_p90_s"] = p90
        traffic[f"{base}_samples"] = len(xs)

    wanted = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    got = dict(res["metrics"])
    if a.trace:
        spans = res["spans"]
        st = metrics.self_times(spans)
        root = [s for s in spans if s["name"] == "mwas_batch.unit"]
        job = report.get("mwas_batch.untraced_unit_s")
        if root and job:
            # self time of the CLI copy's blocking steps (every span below
            # its root) over the untraced CLI run's wall
            steps = sum(st[i] for i in metrics.descendants(spans,
                                                           root[-1]["id"]))
            got["trace.blocking_self_over_job"] = steps / job
        write_trace(a, spans, st)

    out_metrics = {}
    for name, (unit, _) in wanted.items():
        v = got.get(name)
        if v is None or not math.isfinite(v):
            failures.append(f"metric {name} missing")
            continue
        out_metrics[name] = {"value": v, "unit": unit}
    for name in list(out_metrics) + list(report):
        if not metrics.valid_name(name):
            failures.append(f"bad metric name {name}")

    failed = len(failures)
    attempted = max(attempted, failed, 1)
    report["error_rate"] = failed / attempted
    for f in failures:
        print(f"FAIL {f}")
    print("traffic " + json.dumps(traffic, sort_keys=True))
    print("report " + " ".join(
        f"{k}={v:.6g}{metrics.REPORT_UNITS.get(k.split('.')[-1], '')}"
        for k, v in report.items()))
    print(f"wall {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    sys.stdout.flush()
    if failed:
        sys.exit(1)


def write_trace(a, spans, st):
    d = os.path.join(BUILD_DIR, "traces")
    os.makedirs(d, exist_ok=True)
    for s in spans:
        s["self_s"] = st[s["id"]]
    with open(os.path.join(d, f"{a.workload}-s{a.seed}.json"), "w") as f:
        json.dump({"spans": spans,
                   "layer_self_s": metrics.layer_self_times(spans)}, f)


if __name__ == "__main__":
    main()
