"""Guard against public surface that only tests reach.

Every top-level function and class in ``flink_ms_spark/`` must be named
somewhere in the program — the package itself, ``bench.py``,
``perfbench/`` or ``scripts/`` — outside its own definition. A
definition that only ``tests/`` reach is a second path no caller runs:
wire it into a running path or delete it. Catalog queries (``q_*``)
are registered by decorator and dunder names are called by Python, so
both are skipped. Pure ``ast`` + regex; no Spark.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "flink_ms_spark"

#: Unreferenced on purpose, one reason each. Keep this list short: an
#: entry is a debt with a named way out, not an exemption.
ALLOWED = {
    "StreamingMSE": "continuous form of the reference's MSE job; "
    "to replace the online_update replay check",
    "stream_cdc_into_store": "the reference's Kafka-consumer upsert; "
    "to feed the benchmark's store load",
    "streaming_reliability_conf": "Kafka-boundary settings; kept until "
    "the update-log transport is decided",
}

_WORD = re.compile(r"\w+")


def _program_files() -> list[Path]:
    files = [ROOT / "bench.py"]
    for d in (PACKAGE, ROOT / "perfbench", ROOT / "scripts"):
        files += sorted(p for p in d.rglob("*") if p.is_file()
                        and p.suffix in (".py", ".json")
                        and "__pycache__" not in p.parts)
    return files


def _unreferenced() -> dict[str, str]:
    texts = {p: p.read_text() for p in _program_files()}
    words = Counter(w for t in texts.values() for w in _WORD.findall(t))
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = texts[path].splitlines(keepends=True)
        for node in ast.parse(texts[path]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            name = node.name
            if name.startswith("q_") or (
                name.startswith("__") and name.endswith("__")
            ):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = "".join(lines[start - 1 : node.end_lineno])
            if words[name] == _WORD.findall(own).count(name):
                found[name] = f"{path.relative_to(ROOT)}:{node.lineno}"
    return found


def test_every_definition_has_a_caller_outside_tests():
    found = _unreferenced()
    stray = {n: where for n, where in found.items() if n not in ALLOWED}
    assert not stray, (
        "top-level definitions that only tests reach (wire each into a "
        "running path or delete it):\n"
        + "\n".join(f"  {n}  ({w})" for n, w in sorted(stray.items()))
    )
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"ALLOWED entries now referenced or gone: {stale}"
