#!/usr/bin/env python3
"""Environment-read gate: the engine reads only the four environment
variables named below (the core count, the query timeout and Bench's two
inputs), each in the one file that owns it. Any other env read under
src/main/scala/graft — a debug switch, a refuted experiment kept alive, a
conf passed around SparkConf — fails this check, so a new one has to be
added here, by name, on purpose. A Spark conf needs no env variable:
`-Dspark.<key>=<value>` on the JVM already reaches SparkConf. `sys.env` and `System.getenv` reads count; a read whose name is
not a string literal fails too. Comments are ignored.

    python3 tools/env_check.py
"""
import pathlib
import re
import sys

root = pathlib.Path(__file__).resolve().parent.parent
src = root / "src/main/scala/graft"

# variable -> the file (relative to src) allowed to read it
ALLOWED = {
    "SPARK_GRAFT_CPUS": "util/Session.scala",
    "GRAFT_QUERY_TIMEOUT_SEC": "util/Watchdog.scala",
    "SPARK_GRAFT_SF_DIR": "Bench.scala",
    "SPARK_GRAFT_BENCH_OUT": "Bench.scala",
}

read = re.compile(r"\bsys\.env\b|\bSystem\.getenv\b")
named = re.compile(
    r'\bsys\.env(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([^"]*)"'
    r'|\bSystem\.getenv\(\s*"([^"]*)"')

bad = []
for p in sorted(src.rglob("*.scala")):
    rel = p.relative_to(src).as_posix()
    for n, line in enumerate(p.read_text().splitlines(), 1):
        code = line.split("//")[0]
        if code.lstrip().startswith("*") or not read.search(code):
            continue
        names = [a or b for a, b in named.findall(code)]
        if len(names) != len(read.findall(code)):
            bad.append(f"{p.relative_to(root)}:{n}: unnamed env read: {line.strip()}")
        for v in names:
            if ALLOWED.get(v) != rel:
                bad.append(f"{p.relative_to(root)}:{n}: {v} is not allowed here: "
                           f"{line.strip()}")

if bad:
    print("environment reads outside the allowlist in tools/env_check.py:",
          file=sys.stderr)
    print("\n".join(bad), file=sys.stderr)
    sys.exit(1)
print("env-check: every env read in src/main is allowlisted "
      f"({', '.join(sorted(ALLOWED))})")
