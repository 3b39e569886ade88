#!/usr/bin/env python3
"""graft's benchmark: one command that builds the engine from source, runs
one workload in a fresh JVM, checks every output and prints the metrics.

    python3 perfbench/run.py --workload sparql-session --seed 1 \\
        --seconds 40 --trace 0

Run it from the root of a checkout. It compiles src/main/scala plus
perfbench/src with the Scala compiler that ships in Spark's jars (found via
SPARK_HOME, or spark-submit on PATH) into .bench_build/, generates the
seed's inputs once into .bench_data/, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
line before it carries the details (tail percentile, sample counts,
contention probe series, every pass's wall time, failures). It exits 1 if
any operation failed, timed out or produced a wrong output.

    python3 perfbench/run.py --selftest    # the harness's own tests
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import config  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sparql-session", "corpus-scaled", "etl-pipelines")
LIMIT_S = 175.0
# A run starts another warm pass only if, at the last pass's length, it
# would end this long before LIMIT_S.
PASS_MARGIN_S = 20.0
BUILD_LIMIT_S = 800.0
JVM_OPTS = [
    "-Xmx4g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root):
    engine = root / "src" / "main" / "scala"
    if not (engine / "graft").is_dir():
        fail(f"engine sources missing under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group, killing the group at limit_s."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(root, jars):
    """Compiles engine + benchmark into .bench_build/classes unless the
    sources are unchanged since the last build. Concurrent invocations
    serialize on a lock file."""
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    with open(out / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked(root, jars, out)


def build_locked(root, jars, out):
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    rc = run_bounded(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                      "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                     BUILD_LIMIT_S, stdout=sys.stderr)
    if rc != 0:
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def jvm(root, jars, classes, main, args, limit_s):
    data = root / ".bench_data"
    tmp = data / f"tmp-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + config.jvm_properties() + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{classes}:{jars}/*", main] + args
    try:
        return run_bounded(cmd, limit_s, cwd=str(data), stdout=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def measure(root, jars, classes, a, trace, t0):
    """One benchmark JVM; returns its raw record, which it also leaves in
    .bench_data/last-<workload>-trace<0|1>.json."""
    data = root / ".bench_data"
    raw_file = data / f"last-{a.workload}-trace{trace}.json"
    raw_file.unlink(missing_ok=True)
    limit = LIMIT_S - (time.monotonic() - t0)
    rc = jvm(root, jars, classes, "perfbench.Main",
             [a.workload, str(a.seed), str(a.seconds), str(limit - PASS_MARGIN_S),
              str(trace), str(data), str(raw_file)], limit)
    if rc != 0 or not raw_file.exists():
        fail(f"{a.workload} run did not finish (exit {rc})")
    return json.loads(raw_file.read_text())


def fmt(v):
    return round(v, 6) if isinstance(v, float) else v


def main():
    t0 = time.monotonic()
    # A SIGTERM unwinds through run_bounded, which kills the JVM's group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = Path.cwd()
    jars = spark_jars()
    classes = build(root, jars)
    data = root / ".bench_data"
    data.mkdir(exist_ok=True)

    if a.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(str(HERE), pattern="test_*.py")
        ok = unittest.TextTestRunner(stream=sys.stderr).run(suite).wasSuccessful()
        rc = jvm(root, jars, classes, "perfbench.SelfTest", [], LIMIT_S)
        sys.exit(0 if ok and rc == 0 else 1)

    # Inputs are generated once per seed (and again when the generator or
    # the workload sizes change), outside the measured JVM.
    seed_dir = data / f"seed-{a.seed}"
    ready = seed_dir / f"{a.workload}.ready"
    version = hashlib.sha256((HERE / "gen.py").read_bytes() + config.FILE.read_bytes()).hexdigest()
    if not ready.exists() or ready.read_text() != version:
        import gen
        (seed_dir / f"expected-{a.workload}.tsv").unlink(missing_ok=True)
        gen.generate(a.workload, a.seed, seed_dir)
        ready.write_text(version)
        # Flush the new files now, so their write-back does not overlap
        # the measurement.
        os.sync()

    if a.trace:
        # Tracing overhead: this traced run's warm_s against the last
        # untraced run's of the workload (made first if there is none).
        base_file = data / f"last-{a.workload}-trace0.json"
        base = (json.loads(base_file.read_text()) if base_file.exists()
                else measure(root, jars, classes, a, 0, t0))
        raw = measure(root, jars, classes, a, 1, t0)
        raw["untraced_warm_s"] = stats.end_to_end(base)["warm_s"]
        raw["untraced_seed"] = base["seed"]
        (data / f"last-{a.workload}-trace1.json").write_text(json.dumps(raw))
    else:
        raw = measure(root, jars, classes, a, 0, t0)

    e2e = stats.end_to_end(raw)
    failures = [f"{op['name']}: {op['error']}" for p in raw["passes"]
                for op in p["ops"] if not op["ok"]]
    detail = {k: fmt(v) for k, v in e2e.items()}
    detail.update(workload=a.workload, seed=a.seed,
                  probe_s=[fmt(p) for p in raw["probe_s"]],
                  passes_s=[fmt(p["wall_s"]) for p in raw["passes"]],
                  failures=failures[:20])
    if a.trace:
        detail.update(untraced_seed=raw["untraced_seed"])
        metrics = {k: {"value": v, "unit": stats.LAYER_UNITS[k]}
                   for k, v in stats.per_layer(raw).items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": unit} for k, unit in stats.E2E_UNITS.items()}
    print(json.dumps(detail))
    correct = e2e["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": e2e["attempted"],
                      "failed": e2e["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
