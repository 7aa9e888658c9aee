"""Knob guard: the benchmark measures the engine at its defaults.

The benchmark may not pass an ``EngineConfig`` field, a merge ``mode`` or
``overlay``, set a ``spark.patuha.*`` or shuffle conf, or import or touch the
frozen ``bench.py`` / ``bench_extra.py`` harnesses. A later change that
deletes a mode must not break the benchmark, and a change to a default must
be measured by its effect. Scratch locations are the only conf it sets.

``static_violations`` checks the benchmark's own sources before a run;
``runtime_violations`` checks the live session after it.
"""

from __future__ import annotations

import ast
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
FROZEN_MODULES = {"bench", "bench_extra"}
FROZEN_FILES = {f"{m}.py" for m in FROZEN_MODULES}
MERGE_KNOBS = {"mode", "overlay"}
ENGINE_PREFIX = "spark." + "patuha."  # split so this file does not match itself


def _forbidden_conf(s: str) -> bool:
    return s.startswith(ENGINE_PREFIX) or (s.startswith("spark.") and ".shuffle." in s)


def _call_name(node: ast.Call) -> str:
    f = node.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return ""


def file_violations(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    own = os.path.abspath(path) == os.path.abspath(__file__)
    where = os.path.relpath(path, os.path.dirname(HERE))
    out = []
    for node in ast.walk(tree):
        at = f"{where}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in FROZEN_MODULES:
                    out.append(f"{at}: imports {a.name}")
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] in FROZEN_MODULES and not node.level:
                out.append(f"{at}: imports from {node.module}")
        elif isinstance(node, ast.Call):
            name = _call_name(node)
            if name == "EngineConfig" and (node.args or node.keywords):
                out.append(f"{at}: passes an EngineConfig field")
            if name in ("merge", "apply_batch", "SyncOrchestrator", "CdcEngine"):
                for kw in node.keywords:
                    if kw.arg in MERGE_KNOBS or kw.arg == "engine_config":
                        out.append(f"{at}: passes {kw.arg}= to {name}")
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) and not own:
            if _forbidden_conf(node.value):
                out.append(f"{at}: names conf {node.value!r}")
            if os.path.basename(node.value) in FROZEN_FILES:
                out.append(f"{at}: names {node.value!r}")
    return out


def static_violations() -> list[str]:
    out = []
    for name in sorted(os.listdir(HERE)):
        if name.endswith(".py"):
            out += file_violations(os.path.join(HERE, name))
    return out


SHUFFLE_WIDTH = "spark.sql.shuffle.partitions"


def session_width(spark) -> str:
    """The session's shuffle width as the session factory chose it."""
    return spark.conf.get(SHUFFLE_WIDTH)


def runtime_violations(spark, width: str) -> list[str]:
    """Checks the live session after a run: no engine conf was set and the
    shuffle width is still ``width``, read by ``session_width`` at start."""
    out = []
    for k in spark.conf.getAll:
        if k.startswith(ENGINE_PREFIX):
            out.append(f"session holds {k}")
    now = session_width(spark)
    if now != width:
        out.append(f"shuffle width changed: {width} -> {now}")
    loaded = FROZEN_MODULES & set(sys.modules)
    if loaded:
        out.append(f"frozen harness imported: {sorted(loaded)}")
    return out
