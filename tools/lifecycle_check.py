#!/usr/bin/env python3
"""Lifecycle gate: a query leaves the long-lived session as it found it.

Materialization: every cached or checkpointed frame in the engine is
created and freed by `graft.util.Materialize`, which ties it to the query
scope `Watchdog.run` opens (or, in streaming/, to the scope each sink
trigger runs in). A direct `.persist(`, `.cache()`, `.localCheckpoint(`,
`.checkpoint(` or `.unpersist(` call anywhere else would create a frame no
scope releases (or free one behind the scope's back). Exempt:
util/Materialize.scala. Calls spelled `Materialize.<method>(` are the
sanctioned form.

Single writers: a `.coalesce(1)` or `.repartition(1)` funnels a whole
frame through one task, so its scan, projection and write run on one core
whatever the input's splits. Sinks write partitioned, one file per task.
Exempt: Verify.scala, whose oracle dump writes one parquet file per query.

Session state: `graft.util.Session.local` installs the session policy once,
at build time, and is the only `SparkSession.builder`. Outside
util/Session.scala, a `.conf.set(` / `.conf.unset(`, a `functionRegistry`
write or a `create*TempView(` would change the session for every query
after it, so this fails on any. Native expressions become Columns directly
(`org.apache.spark.sql.graft.NativeColumn`); a conf a query needs goes on
the reader or writer as an option.

Every .scala file under src/main/scala is checked; comments are ignored.

    python3 tools/lifecycle_check.py
"""
import pathlib
import re
import sys

root = pathlib.Path(__file__).resolve().parent.parent
src = root / "src/main/scala"
graft = src / "graft"
session = graft / "util/Session.scala"

# (what, pattern, the one file allowed to match)
RULES = [
    ("direct lifecycle call (route it through graft.util.Materialize)",
     re.compile(r"(?<!Materialize)\.(persist|localCheckpoint|checkpoint|unpersist)\("
                r"|\.cache\(\)"),
     graft / "util/Materialize.scala"),
    ("session conf write (set it in graft.util.Session.local, or pass it "
     "as a read/write option)",
     re.compile(r"\.conf\.(set|unset)\("), session),
    ("function registry write (build the expression as a Column with "
     "NativeColumn)",
     re.compile(r"\bfunctionRegistry\b"), session),
    ("temp view (use the Dataset API on the frame itself)",
     re.compile(r"\.create(OrReplace)?(Global)?TempView\("), session),
    ("session builder (build through graft.util.Session.local)",
     re.compile(r"\bSparkSession\.builder\b"), session),
    ("single-writer repartition (write partitioned, one file per task)",
     re.compile(r"\.(coalesce|repartition)\(\s*1\s*\)"), graft / "Verify.scala"),
]

bad = []
for p in sorted(src.rglob("*.scala")):
    for n, line in enumerate(p.read_text().splitlines(), 1):
        code = re.sub(r'"(?:\\.|[^"\\])*"', '""', line).split("//")[0]
        if code.lstrip().startswith("*"):
            continue
        for what, pattern, owner in RULES:
            if p != owner and pattern.search(code):
                bad.append(f"{p.relative_to(root)}:{n}: {what}: {line.strip()}")

if bad:
    print("session-lifecycle violations in src/main:", file=sys.stderr)
    print("\n".join(bad), file=sys.stderr)
    sys.exit(1)
print("lifecycle-check: no direct persist/cache/checkpoint/unpersist outside "
      "util/Materialize.scala; no conf write, function registration, temp view "
      "or session builder outside util/Session.scala; no coalesce(1)/"
      "repartition(1) outside Verify.scala")
