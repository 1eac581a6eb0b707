#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload tsdb_serve --seed 1 --seconds 10 --trace 0

Builds graft (src/main/scala) and the benchmark's JVM program
(perfbench/src) with scalac against the Spark jars into one jar under
$CARGO_TARGET_DIR (default .bench_build), reused while the sources are
unchanged. Generates the workload's inputs from --seed into a per-run
directory under the build directory, runs the workload in one JVM, checks
the outputs, removes the run directory and prints the result as the last
line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The line before it holds the run's detail record (failure causes, box
evidence, the workload's own serving metrics).
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

RUN_LIMIT_S = 170  # a run must end within 180 s
# The heap starts at 1 GB, which every workload fits, and may grow to 2 GB.
# A small initial heap makes peak RSS follow G1's resizing decisions, which
# vary from run to run by up to a third; from 1 GB it varies by about 3 %.
JVM_HEAP = ["-Xms1g", "-Xmx2g"]
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's own build uses."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        fail("set SPARK_HOME: build.sbt names no Spark jar directory")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail(f"no graft sources under {main.relative_to(ROOT)}; run from a full checkout")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build(build_dir):
    """Compile graft plus the benchmark program into one jar, once per source
    content."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    jar = build_dir / f"graft-bench-{h.hexdigest()[:16]}.jar"
    if jar.is_file():
        return jar
    tmp = build_dir / f"classes.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = build_dir / f"scalac-{os.getpid()}.args"
    args.write_text("\n".join(str(p) for p in srcs))
    try:
        subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", f"{spark_jars()}/*",
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{args}"],
            check=True, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        # a jar, not a class directory: the JVM's class-data archive only
        # accepts jar entries on the class path
        subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", f"{jar}.tmp", "-C", str(tmp), "."],
                       check=True, timeout=120)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    finally:
        args.unlink(missing_ok=True)
        shutil.rmtree(tmp, ignore_errors=True)
    os.rename(f"{jar}.tmp", jar)
    return jar


def steal_jiffies():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def inputs(workload, seed, seconds, spec, run_root):
    """Generate the workload's inputs; return (params for the JVM program,
    ground truth for the checks)."""
    p = dict(spec["workloads"][workload]["params"])
    p["setups"] = spec["setups"]
    data = run_root / "input"
    if workload == "tsdb_serve":
        truth = gen.tsdb(str(data), seed, p, seconds)
        p.update(bodies=str(data), dashboard=str(data / "dashboard.json"),
                 steady_bodies=truth["steady_bodies"])
    elif workload == "lake_analytics":
        gen.lake(str(data), seed, p["sf"])
        p["lake"] = str(data)
        truth = {"lake": str(data)}
    else:
        truth = gen.corpus(str(data / "corpus"), seed, p["docs"], p)
        gen.corpus(str(data / "warm"), seed + 1_000_003, p["warm_docs"], p)
        p.update(corpus=str(data / "corpus"), warm=str(data / "warm"),
                 sample_budget=int(p["docs"] * p["sample_budget_share"]))
    return p, truth


def run_jvm(jar, workload, seed, seconds, trace, run_root, params, deadline):
    pfile = run_root / "params.json"
    pfile.write_text(json.dumps(params))
    tmp = run_root / "tmp"
    tmp.mkdir()
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # Class-data archive of the classes this workload loads, dumped by its
    # first run in this build directory and mapped by later ones: it halves
    # the cold JVM's class loading, which only the first set-up pays.
    cds = jar.with_name(f"{jar.stem}-{workload}.jsa")
    dump = cds.with_name(f"{cds.name}.tmp-{os.getpid()}")
    share = f"-XX:SharedArchiveFile={cds}" if cds.is_file() else f"-XX:ArchiveClassesAtExit={dump}"
    cmd = ["java", "-XX:-UsePerfData", *opens, share, *JVM_HEAP,
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{jar}:{spark_jars()}/*", "perfbench.Main",
           workload, str(seed), str(seconds), str(trace), str(run_root), str(pfile)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_root / "spark-local"))
    log = run_root / "jvm.log"
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                cwd=run_root, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        dump.unlink(missing_ok=True)
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"the JVM exited with {code}")
    if dump.is_file():
        os.rename(dump, cds)
    return json.loads((run_root / "record.json").read_text())


def main():
    # a terminated run unwinds through the finally blocks that stop the JVM
    # and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["tsdb_serve", "lake_analytics", "corpus_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir.mkdir(parents=True, exist_ok=True)
    jar = build(build_dir)
    # the build may take long on a fresh checkout; the run proper has its own limit
    deadline = time.monotonic() + RUN_LIMIT_S
    spec = json.loads((HERE / "spec.json").read_text())

    run_root = build_dir / "runs" / f"{a.workload}-s{a.seed}-{os.getpid()}"
    shutil.rmtree(run_root, ignore_errors=True)
    run_root.mkdir(parents=True)
    try:
        steal0 = steal_jiffies()
        params, truth = inputs(a.workload, a.seed, a.seconds, spec, run_root)
        rec = run_jvm(jar, a.workload, a.seed, a.seconds, a.trace, run_root, params,
                         deadline - 15)
        ok, problems = checks.check(a.workload, rec, truth, params)
        steal = steal_jiffies() - steal0
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    e2e, detail = metrics.end_to_end(a.workload, rec, truth, params)
    counted = [o for o in rec["ops"] if o["counted"]]
    failures = [o for o in counted if not o["ok"]]
    detail.update(
        workload=a.workload, seed=a.seed, trace=a.trace,
        failed_ratio=len(failures) / max(1, len(counted)),
        failures=sorted({f"{o['kind']}: {o['error']}" for o in failures})[:20],
        check_problems=problems[:20],
        steal_jiffies=steal, setup_s_all=rec["setup_s"])
    out = e2e
    if a.trace:
        out = metrics.per_layer(a.workload, rec, truth, params, e2e)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": ok, "attempted": len(counted), "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
