#!/usr/bin/env python3
"""graft's benchmark: run one workload and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload api_mix --seed 1 --seconds 10 --trace 0

Workloads: api_mix, heavy_ops, stream_ingest (see perfbench/README.md).

The script builds the checkout (sbt, only when a source changed since the
last build), runs the workload in one JVM (`graftbench.Main`), checks
every output (DuckDB oracles for queries, the distinct generated events
for the stream table) and prints, as the last line of stdout, one JSON
object with the keys correct, attempted, failed and metrics. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` they are its per-layer ones, the spans go to
.bench_build/perfbench/traces/ and a self-time summary is printed.

Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gate  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("api_mix", "heavy_ops", "stream_ingest")
DEADLINE_S = 170          # a run ends well inside 180 s once built
BUILD_DEADLINE_S = 840
JVM_HEAP = "4g"
# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
# Layers each workload exercises. A per-layer metric of a layer the
# workload does not touch is reported as 0.
BATCH_LAYERS = ("SparkEntry.", "plans.", "engine.", "operators.", "shuffle.", "query.",
                "process.", "trace.")
STREAM_LAYERS = ("SparkEntry.", "plans.", "engine.", "operators.", "shuffle.", "streaming.",
                 "TableLog.", "sources.", "generator.", "process.", "trace.")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sf_dir():
    """The sf0.1 test tables: under ~/testdata, or where TESTDATA.md says."""
    found = [os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")]
    doc = os.path.join(ROOT, "TESTDATA.md")
    if os.path.exists(doc):
        with open(doc) as f:
            found += re.findall(r"`([^`\s]*/sf0\.1)/?`", f.read())
    for d in found:
        if os.path.isfile(os.path.join(d, "events.parquet")):
            return d
    raise SystemExit("perfbench: sf0.1 test tables not found (see TESTDATA.md)")


def source_digest():
    """Hash of every input of the build: the library and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, n) for n in os.listdir(d)
                      if n.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on a timeout or a signal kill
    the group and wait, so nothing it started outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def build():
    """Compile graft and the harness unless nothing changed since the
    last build; returns (runtime classpath, whether it built)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no graft sources next to perfbench/ "
                         "(expected build.sbt and src/main/scala)")
    stamp = os.path.join(STATE, "build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            old = json.load(f)
        if old["digest"] == digest and all(os.path.exists(p) for p in old["classpath"]):
            return old["classpath"], False
    log("perfbench: building with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(STATE, exist_ok=True)
    out_path = os.path.join(STATE, "build.log")
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       BUILD_DEADLINE_S, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    cp_lines = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cp_lines:
        log("\n".join(lines[-40:]))
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    classpath = cp_lines[-1].split(os.pathsep)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, True


def run_jvm(args, classpath, rundir, deadline, sf):
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", *ADD_OPENS, "-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dderby.system.home=" + tmp, "-cp", os.pathsep.join(classpath),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--sf", sf,
            "--out", rundir, "--cores", str(cores)])
    log_path = os.path.join(rundir, "jvm.log")
    with open(log_path, "w") as out:
        try:
            rc = run_group(cmd, max(10.0, deadline - time.monotonic()), cwd=rundir,
                           stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    result = os.path.join(rundir, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log_path, errors="replace") as f:
            log("".join(f.readlines()[-60:]))
        raise SystemExit(f"perfbench: {args.workload} run failed (jvm exit {rc})")
    with open(result) as f:
        return json.load(f)


def select_metrics(res, bench, trace):
    """The metrics the result line must carry, each with its unit."""
    measured = res["metrics"]
    out = {}
    if not trace:
        for m in bench["end_to_end"]:
            out[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}
        return out
    layers = STREAM_LAYERS if res["workload"] == "stream_ingest" else BATCH_LAYERS
    for m in bench["per_layer"]:
        name = m["name"]
        if name in measured:
            value = measured[name]
        elif name.startswith("query.") or not name.startswith(layers):
            value = 0  # a query of another workload, or a layer this one never calls
        else:
            raise SystemExit(f"perfbench: {res['workload']} did not measure {name}")
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def trace_summary(rundir, workload, seed):
    """Self time per layer from the spans, and pass coverage."""
    path = os.path.join(rundir, "spans.jsonl")
    with open(path) as f:
        spans = [json.loads(ln) for ln in f]
    dest = os.path.join(STATE, "traces")
    os.makedirs(dest, exist_ok=True)
    shutil.copy(path, os.path.join(dest, f"{workload}-seed{seed}.jsonl"))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    self_ms = {}
    for s in spans:
        covered, end = 0, None
        for a, b in sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                           for c in kids.get(s["id"], [])):
            a = a if end is None else max(a, end)
            if b > a:
                covered += b - a
            end = b if end is None else max(end, b)
        layer = s["name"].split(".")[0]
        self_ms[layer] = self_ms.get(layer, 0) + (s["end_ns"] - s["start_ns"] - covered) / 1e6
    lines = [f"trace {workload}: {len(spans)} spans -> {os.path.relpath(dest, ROOT)}/",
             "  self time per layer (ms): " + ", ".join(
                 f"{k} {v:.0f}" for k, v in sorted(self_ms.items(), key=lambda kv: -kv[1]))]
    passes = [s for s in spans if s["name"] in ("bench.pass", "stream.drain", "stream.live")]
    if passes:
        cov = [sum(c["end_ns"] - c["start_ns"] for c in kids.get(p["id"], []))
               / max(1, p["end_ns"] - p["start_ns"]) for p in passes]
        lines.append(f"  child spans cover {min(cov):.1%}..{max(cov):.1%} of each pass/phase")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a stop request unwinds through run_group, which kills the JVM or sbt
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    bench = spec()
    classpath, built = build()
    sf = sf_dir()
    # a run that had to build gets its full time budget after the build
    deadline = (time.monotonic() if built else started) + DEADLINE_S
    rundir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        res = run_jvm(args, classpath, rundir, deadline, sf)
        errors = list(res["errors"])
        failed = res["failed"]
        if res["gate_queries"]:
            verdicts = gate.check_queries(os.path.join(rundir, "gate"), res["gate_queries"],
                                          res["oracle_sql"], sf,
                                          os.path.join(STATE, "oracle-cache"))
            bad = {q: v for q, v in verdicts.items() if not v.startswith("OK")}
            failed += len(bad)
            errors += [f"{q} (oracle): {v}" for q, v in sorted(bad.items())]
        if res["gate_stream"]:
            for part, verdict in gate.check_streams(os.path.join(rundir, "gate", "stream")).items():
                if verdict != "OK":
                    failed += 1
                    errors.append(f"stream table ({part}): {verdict}")
        metrics = select_metrics(res, bench, args.trace == 1)
        for line in res["summary"]:
            print(line)
        if args.trace:
            for line in trace_summary(rundir, args.workload, args.seed):
                print(line)
            if "trace.overhead_pct" in res["metrics"]:
                print(f"  tracing overhead: {res['metrics']['trace.overhead_pct']:+.1f}% "
                      "(traced half against the untraced half of this run)")
        for e in errors:
            print("FAILED " + e)
        attempted = res["attempted"]
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
