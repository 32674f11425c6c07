#!/usr/bin/env python3
"""Run one workload of the graft engine benchmark and print its result.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into .bench_build/); later runs reuse the
build while the sources are unchanged; the first run also makes the input
tables in a JVM of its own (.bench_build/fixtures/). Each run starts a
fresh JVM, makes its inputs from --seed inside a scratch directory under
.bench_build/,
measures for --seconds, checks the answers, deletes the scratch directory
and prints one JSON object as the last line of standard output.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("serve", "cdc_stream", "batch_registry")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run of a checkout may take 900 s

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def wait_group(cmd, limit, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt and java both fork children) and return None. If this script is
    stopped meanwhile, the group is killed too before it exits."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build used the same sources;
    returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = wait_group(["sbt", "-batch", "compile",
                           "export Runtime/fullClasspath"], BUILD_LIMIT_S,
                          cwd=HERE, stdout=out, stderr=subprocess.STDOUT)
    if code is None:
        fail(f"build timed out; see {log}")
    if code != 0:
        fail(f"build failed; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if "scala-2.13" in l and ".jar" in l]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1].split()[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def expected_metrics(traced):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if traced else "end_to_end"]


def java(cp, work):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def fixtures(cp, work, limit):
    """The generated input tables, made by a JVM of their own the first
    time, so the measured JVM only reads them. They depend on Fixture.scala
    alone (scale factors and data seeds live there), so they are kept under
    its hash: an engine edit reuses them, and tables of any other hash go."""
    with open(os.path.join(HERE, "src", "main", "scala", "perfbench",
                           "Fixture.scala"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:16]
    base = os.path.join(BUILD, "fixtures")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        if d != key:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    dst = os.path.join(base, key)
    if not os.path.isdir(dst):
        tmp = dst + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        log = os.path.join(work, "fixtures.log")
        with open(log, "w") as lf:
            code = wait_group(java(cp, work) + ["--make-fixtures", tmp],
                              limit, cwd=work, stdout=lf,
                              stderr=subprocess.STDOUT)
        if code != 0:
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            shutil.rmtree(tmp, ignore_errors=True)
            fail("making the input tables "
                 + ("timed out" if code is None else f"exited with {code}"), 1)
        os.rename(tmp, dst)
    return dst


def run_jvm(cp, args, work, out, tables, limit):
    cmd = java(cp, work) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--fixtures", tables]
    if args.golden_out:
        cmd += ["--golden", os.path.abspath(args.golden_out), "--write-golden", "1"]
    else:
        cmd += ["--golden", os.path.join(HERE, "golden", "registry.txt")]
    env = dict(os.environ)
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        code = wait_group(cmd, limit, cwd=work, stdout=lf,
                          stderr=subprocess.STDOUT, env=env)
    return code, log


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--golden-out",
                    help="write batch_registry's golden answers here "
                         "instead of checking against perfbench/golden")
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C: child JVMs are killed, scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.monotonic()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "Tables.scala")):
        fail("engine sources (src/main/scala) not found: run from a "
             "checkout of the repository")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    try:
        tables = fixtures(cp, work, RUN_LIMIT_S)
        made_s = time.monotonic() - t0
        # a run that built or made tables may use the longer first-run limit
        limit = RUN_LIMIT_S - (0 if made_s > 60 else made_s)
        code, log = run_jvm(cp, args, work, out, tables, limit)
        with open(log, errors="replace") as f:
            notes = [l for l in f if l.startswith("[perfbench]")]
        sys.stderr.write("".join(notes[-40:]))
        if code != 0 or not os.path.exists(out):
            with open(log, errors="replace") as f:
                lines = [l for l in f if not l.lstrip().startswith("at ")
                         and " INFO " not in l]
            sys.stderr.write("".join(lines[-40:]))
            fail("timed out" if code is None else f"JVM exited with {code}", 1)
        with open(out) as f:
            res = json.load(f)
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-{args.seed}-"
                               f"trace{args.trace}.json"), "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = res["metrics"]
    for m in expected_metrics(args.trace == 1):
        if m["name"] not in metrics or metrics[m["name"]]["unit"] != m["unit"]:
            fail(f"metric {m['name']} ({m['unit']}) missing from the result", 1)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
