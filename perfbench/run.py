#!/usr/bin/env python3
"""Benchmark of the graft engine on three seeded workloads.

Run from the root of the repository:

    python3 perfbench/run.py --workload qbo_full_refresh --seed 1 --seconds 20 --trace 0

The first run builds the engine and the benchmark from source with sbt
(into perfbench/.build); later runs reuse the build while the sources are
unchanged. Each run starts one JVM that sets up a Spark session, generates
the seeded inputs, runs timed passes for --seconds, checks every pass
against the generator's ground truth and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The exit code is non-zero when any check fails.

Other modes:
    --report [--seed N] [--out FILE]     every workload, untraced and traced,
                                         as a table with units and sample counts
    --selftest                           all workloads on a tiny input, plus a
                                         deliberately corrupted output per workload
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["qbo_full_refresh", "llm_dedup", "cdc_microbatch"]

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the same list the root build passes to forked JVMs).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else []
        for d, dirs, files in os.walk(top):
            # sbt's own output under project/ is not a source
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += sorted(os.path.join(d, f) for f in files)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; returns the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
        if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
            return open(cp_file).read().strip()
        log("building the engine and the benchmark with sbt")
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=600)
        out = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not out:
            sys.stderr.write("\n".join(out[-40:]) + "\n")
            log("build failed")
            sys.exit(2)
        cp = out[-1].strip()
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp, "w") as fh:
            fh.write(digest)
        log(f"built in {time.time() - t0:.0f} s")
        return cp



def java(cp, work):
    """The JVM command line, up to the main class."""
    # a fixed heap and young generation under the parallel collector, so
    # heap sizing heuristics do not move the peak RSS from run to run
    return (["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
            + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp])


def child_env():
    """The environment for the JVM: Spark's scratch directories stay in the
    run's work directory even where the shell points them elsewhere."""
    env = dict(os.environ)
    for key in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS"):
        env.pop(key, None)
    return env


def fresh_work(name):
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def run_once(cp, workload, seed, seconds, trace, timeout=175, keep=None):
    """One JVM run; returns (exit code, last stdout line, parsed detail or None).
    `keep` names a file to copy the run's detail (samples, passes, spans) to."""
    work = fresh_work(f"{workload}-{seed}-{int(trace)}")
    detail = os.path.join(work, "detail.json")
    cmd = java(cp, work) + [
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--work", os.path.join(work, "data"),
        "--detail", detail]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, env=child_env())
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log(f"{workload}: no result within {timeout} s")
        shutil.rmtree(work, ignore_errors=True)
        return 3, None, None
    lines = [line for line in out.splitlines() if line.strip()]
    parsed = None
    if os.path.exists(detail):
        with open(detail) as fh:
            parsed = json.load(fh)
        if keep:
            shutil.copy(detail, keep)
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, (lines[-1] if lines else None), parsed


def report(cp, seed, seconds, out):
    """Every workload, untraced then traced, printed as one table."""
    rows = []
    for w in WORKLOADS:
        for trace in (False, True):
            code, line, detail = run_once(cp, w, seed, seconds, trace)
            result = json.loads(line) if line else {}
            rows.append({"workload": w, "seed": seed, "trace": trace, "exit": code,
                         "result": result, "detail": detail})
            log(f"{w} seed {seed} trace {int(trace)}: exit {code}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs = {(r["workload"], r["trace"]): r for r in rows}
    print(f"\n== seed {seed}: end-to-end, untraced runs (value unit, n = samples) ==")
    names = [m["name"] for m in spec["end_to_end"]]
    print("workload".ljust(18) + "".join(n.rjust(30) for n in names + ["failed_ratio"]))
    for w in WORKLOADS:
        d = runs[(w, False)]["detail"]
        if not d:
            print(w.ljust(18) + "no result".rjust(30))
            continue
        cells = [f"{d['end_to_end'][n]['value']:.4g} {d['end_to_end'][n]['unit']} "
                 f"n={d['end_to_end'][n]['samples']}" for n in names]
        cells.append(f"{d['failed_ratio']:.4g}")
        print(w.ljust(18) + "".join(c.rjust(30) for c in cells))
    print(f"\n== seed {seed}: per layer, traced runs (median per traced pass) ==")
    details = {w: runs[(w, True)]["detail"] for w in WORKLOADS}
    print("metric".ljust(36) + "unit".ljust(7) + "".join(w.rjust(26) for w in WORKLOADS))
    for m in spec["per_layer"]:
        cells = []
        for w in WORKLOADS:
            got = {x["name"]: x for x in (details[w] or {}).get("per_layer", [])}
            x = got.get(m["name"])
            cells.append(f"{x['value']:.6g} n={x['samples']}" if x else "-")
        print(m["name"].ljust(36) + m["unit"].ljust(7) + "".join(c.rjust(26) for c in cells))
    if out:
        with open(out, "w") as fh:
            json.dump(rows, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0 if all(r["exit"] == 0 for r in rows) else 1


def selftest(cp):
    """Tiny inputs, all workloads in one JVM (see SelfTest.scala); then a
    directory holding only BENCHMARK.json and this directory must fail fast
    without a result."""
    t0 = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = fresh_work("selftest")
    cmd = java(cp, work) + [
        "perfbench.SelfTest", os.path.join(work, "data"),
        ",".join(m["name"] for m in spec["end_to_end"]),
        ",".join(m["name"] for m in spec["per_layer"])]
    code = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, timeout=300,
                          env=child_env()).returncode
    shutil.rmtree(work, ignore_errors=True)

    bare = fresh_work("bare")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".build", ".work", "target", "project"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0]],
                          cwd=bare, stdin=subprocess.DEVNULL, capture_output=True,
                          text=True, timeout=170)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        log(f"FAIL without the engine's sources: exit {proc.returncode}, "
            f"stdout {proc.stdout.strip()!r}")
        code = code or 1
    log(f"self-test {'failed' if code else 'passed'} in {time.time() - t0:.0f} s")
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="copy the run's detail JSON (samples, passes, spans) here")
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--out")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the engine's sources (build.sbt, src/main/scala/graft) are not next to "
            "this directory; run from a checkout of the repository")
        return 2
    cp = build()
    if args.selftest:
        return selftest(cp)
    if args.report:
        return report(cp, args.seed, args.seconds, args.out)
    if not args.workload:
        ap.error("--workload is required")
    code, line, _ = run_once(cp, args.workload, args.seed, args.seconds, args.trace == 1,
                             keep=args.detail and os.path.abspath(args.detail))
    if line is None:
        return code or 3
    print(line)
    return code


if __name__ == "__main__":
    sys.exit(main())
