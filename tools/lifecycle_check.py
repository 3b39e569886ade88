#!/usr/bin/env python3
"""Materialization lifecycle gate: every cached or checkpointed frame in
the engine is created and freed by `graft.util.Materialize`, which ties
it to the query scope `Watchdog.run` opens (or, in streaming/, to the
scope each sink trigger runs in). A direct `.persist(`,
`.cache()`, `.localCheckpoint(`, `.checkpoint(` or `.unpersist(` call
anywhere else under src/main/scala/graft would create a frame no scope
releases (or free one behind the scope's back), so this fails on any.

Exempt: util/Materialize.scala itself. Calls spelled
`Materialize.<method>(` are the sanctioned form; comments are ignored."""
import pathlib
import re
import sys

root = pathlib.Path(__file__).resolve().parent.parent
src = root / "src/main/scala/graft"
exempt = {src / "util/Materialize.scala"}
call = re.compile(
    r"(?<!Materialize)\.(persist|localCheckpoint|checkpoint|unpersist)\(|\.cache\(\)")

bad = []
for p in sorted(src.rglob("*.scala")):
    if p in exempt:
        continue
    for n, line in enumerate(p.read_text().splitlines(), 1):
        code = re.sub(r'"(?:\\.|[^"\\])*"', '""', line).split("//")[0]
        if code.lstrip().startswith("*"):
            continue
        if call.search(code):
            bad.append(f"{p.relative_to(root)}:{n}: {line.strip()}")

if bad:
    print("direct lifecycle calls outside graft.util.Materialize "
          "(route them through Materialize):", file=sys.stderr)
    print("\n".join(bad), file=sys.stderr)
    sys.exit(1)
print("lifecycle-check: no direct persist/cache/checkpoint/unpersist "
      "calls outside util/Materialize.scala")
