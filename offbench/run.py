#!/usr/bin/env python3
"""Offload-engine benchmark.

    python3 offbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: incremental_append and query_mix (the two BENCHMARK.json lists),
and bulk_offload (see NOTES.md).
Run from the repository root. The first run builds the engine and the
harness from source with sbt (harness/build.sbt) and generates the input
tables; later runs reuse both while their sources are unchanged. Each run
is one JVM with one Spark session and one closed-loop client.

Output: one JSON line per metric (name, value, unit, workload, sample
count), then the summary line {"correct", "attempted", "failed", "metrics"}
last. With --trace 0 the summary carries the end-to-end metrics, with
--trace 1 the per-layer ones. Exits non-zero without a summary when the
engine sources are missing or the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
STATE = os.path.join(HERE, ".state")
sys.path.insert(0, HERE)
import analysis  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# The module openings Spark needs on JDK 17 outside spark-submit; the same
# list the engine's build passes to its own forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = ["-Xmx2g"]


def die(msg):
    print("offbench: " + msg, file=sys.stderr)
    sys.exit(2)


def files_under(paths):
    for top in paths:
        if os.path.isfile(top):
            yield top
        else:
            yield from sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)


def tree_digest(paths):
    """Hash of the names and contents of the files under `paths`."""
    h = hashlib.sha256()
    for f in files_under(paths):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def output_digest(classpath):
    """Hash of the names, sizes and modification times of the files in the
    classpath's directories (the compiled engine and harness): any
    recompile, by this benchmark or any other build, changes it."""
    h = hashlib.sha256()
    dirs = sorted(p for p in classpath.split(os.pathsep) if os.path.isdir(p))
    for f in files_under(dirs):
        st = os.stat(f)
        h.update(("%s %d %d\n" % (f, st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build_inputs():
    """The files the compiled classpath depends on: both builds' definitions
    (not their target/ outputs), the engine's main sources and resources,
    its unmanaged jars in lib/ if it has any, and the harness sources."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
           os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "src")]
    for top in (ROOT, HARNESS):
        project = os.path.join(top, "project")
        if os.path.isdir(project):
            out += sorted(os.path.join(project, f) for f in os.listdir(project)
                          if os.path.isfile(os.path.join(project, f)))
    if os.path.isdir(os.path.join(ROOT, "lib")):
        out.append(os.path.join(ROOT, "lib"))
    return out


def run_group(cmd, cwd, timeout, stdout, env=None):
    """Run `cmd` in its own process group and wait for it; on a timeout or
    any interruption kill the whole group and wait for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compile the engine and the harness (one sbt build) and return the
    classpath. The previous build is reused only when it was made from the
    current sources and its compiled output is unchanged since: sbt is
    skipped exactly when the classpath holds these sources' classes."""
    stamp_file = os.path.join(STATE, "build.json")
    sources = tree_digest(build_inputs())
    try:
        with open(stamp_file) as f:
            last = json.load(f)
        if last["sources"] == sources and last["outputs"] == output_digest(last["classpath"]):
            return last["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("offbench: building engine and harness with sbt", file=sys.stderr)
    log_path = os.path.join(STATE, "build.log")
    with open(log_path, "w") as log:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HARNESS, BUILD_TIMEOUT_S, log, env)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    # the export prints the classpath as the last line
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    classpath = lines[-1]
    tmp = stamp_file + ".%d" % os.getpid()
    with open(tmp, "w") as f:
        json.dump({"sources": sources, "outputs": output_digest(classpath),
                   "classpath": classpath}, f)
    os.replace(tmp, stamp_file)
    return classpath


def java(classpath, scratch, args, timeout):
    """Run the harness JVM; its output goes to the scratch directory."""
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd += HEAP + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
            "-cp", classpath, "offbench.Main", "--scratch", scratch] + args
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "w") as log:
        code = run_group(cmd, scratch, timeout, log)
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        die("harness exited with %d" % code)


def inputs(classpath):
    """The generated input tables, made once per generator version."""
    gen = os.path.join(HARNESS, "src", "main", "scala", "offbench", "DataGen.scala")
    data = os.path.join(STATE, "data-" + tree_digest([gen])[:16])
    if not os.path.isdir(data):
        scratch = os.path.join(STATE, "gen-%d" % os.getpid())
        try:
            java(classpath, scratch, ["--generate", os.path.join(scratch, "data")],
                 JVM_TIMEOUT_S)
            os.rename(os.path.join(scratch, "data"), data)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    return data


def emit(name, value, unit, workload, n, **extra):
    line = {"metric": name, "value": value, "unit": unit, "workload": workload, "n": n}
    line.update(extra)
    print(json.dumps(line))


def main():
    # a terminated run still stops the JVM it started (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=analysis.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(ENGINE_SRC)):
        die("engine sources not found next to the benchmark (run from a full checkout)")

    classpath = build()
    data = inputs(classpath)
    scratch = os.path.join(STATE, "run-%d" % os.getpid())
    out = os.path.join(scratch, "records.jsonl")
    try:
        java(classpath, scratch,
             ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data, "--out", out], JVM_TIMEOUT_S)
        with open(out) as f:
            records = [json.loads(l) for l in f if l.strip()]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    ops = [r for r in records if r["kind"] == "op"]
    if a.workload == "query_mix":
        with open(os.path.join(HERE, "expected_digests.json")) as f:
            expected = json.load(f)["digests"]
        bad = analysis.digest_mismatches([(o["name"], o["digest"]) for o in ops if o["ok"]],
                                         expected)
        checked = [o for o in ops if o["ok"]]
        for i, reason in bad.items():
            checked[i]["ok"] = False
            checked[i]["error"] = reason
    for o in ops:
        if not o["ok"]:
            print(json.dumps({"failed_op": o["name"], "error": o["error"]})[:1000],
                  file=sys.stderr)
    failed = sum(1 for o in ops if not o["ok"])

    correct = failed == 0
    if a.trace:
        index = analysis.module_index(ENGINE_SRC)
        bench = set(os.listdir(os.path.join(HARNESS, "src", "main", "scala", "offbench")))
        metrics, trees = analysis.per_layer(a.workload, records, index, bench)
        n = len(trees)
        with open(os.path.join(STATE, "trace-%s.jsonl" % a.workload), "w") as f:
            for op, tree in trees:
                for span in analysis.flatten(op["id"], tree):
                    f.write(json.dumps(span) + "\n")
        for name in analysis.per_layer_names():
            emit(name, metrics[name], analysis.per_layer_unit(name), a.workload, n)
        correct = correct and n > 0
        summary = {k: {"value": metrics[k], "unit": analysis.per_layer_unit(k)}
                   for k in analysis.per_layer_names()}
    else:
        metrics, extra = analysis.end_to_end(a.workload, records)
        for name, (unit, wls) in analysis.END_TO_END.items():
            if wls is None or a.workload in wls:
                e = dict(extra.get(name, {}))
                emit(name, metrics[name], unit, a.workload, e.pop("n"), **e)
        summary = {k: {"value": metrics[k], "unit": analysis.END_TO_END[k][0]}
                   for k in analysis.SUMMARY_END_TO_END}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": summary}))


if __name__ == "__main__":
    main()
