"""The workload sizes and operation lists, shared by the Python side
(generator, reduction) and the JVM side (which gets them as -D properties)."""

import json
from pathlib import Path

FILE = Path(__file__).resolve().parent / "workloads.json"


def load():
    return json.loads(FILE.read_text())


def jvm_properties():
    """-Dperfbench.<key>=<value> flags; lists become comma-separated."""
    return [f"-Dperfbench.{k}=" + (",".join(v) if isinstance(v, list) else str(v))
            for k, v in load().items()]
