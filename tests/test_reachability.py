"""Keep unreachable operator code deleted.

Every public top-level function or class in ``operators/``, ``functions/``
and ``sources/`` must be referenced by code that runs: the package itself
(queries, streaming, the operators that call each other), ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. A reference is a
``Name``, an ``Attribute`` or an ``ImportFrom`` name in the parsed source,
so mentions in docstrings and comments do not count, and neither do tests.
The few public names that only tests or the README's documented API reach
are listed in ``ALLOWLIST`` with the reason they stay.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "slr207_mapreduce_spark"
CHECKED_LAYERS = ("operators", "functions", "sources")

ALLOWLIST = {
    "read_csv": "README documents the parquet/csv/json/text readers",
    "read_json": "README documents the parquet/csv/json/text readers",
    "knn_ivf_pq_load_state": "README's build-once/query-many store: load "
    "a saved index in a fresh session",
    "encode_jpeg_gray": "scalar codec entry point; tests use it as the "
    "byte-parity reference for the batch coder",
    "encode_jpeg_color": "scalar codec entry point; tests use it as the "
    "byte-parity reference for the batch coder",
    "encode_avi_mjpeg": "scalar codec entry point; tests use it as the "
    "byte-parity reference for the AVI muxer",
    "decode_avi_mjpeg_frames": "scalar codec entry point; tests use it as "
    "the byte-parity reference for the sampled-frame demuxer",
    "encode_frame_stream": "scalar codec entry point; tests use it as the "
    "byte-parity reference for the frame-stream coder",
}


def _scanned_files() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (PACKAGE, ROOT / "tools", ROOT / "perfbench"):
        files += [
            p
            for p in sorted(d.rglob("*.py"))
            if not p.name.startswith("test_") and "__pycache__" not in p.parts
        ]
    return files


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _scanned_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                names.update(a.name for a in node.names)
    return names


def _public_definitions() -> dict[str, str]:
    """name -> defining module path, for the checked layers."""
    defs: dict[str, str] = {}
    for layer in CHECKED_LAYERS:
        for path in sorted((PACKAGE / layer).glob("*.py")):
            tree = ast.parse(path.read_text(), str(path))
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) and not node.name.startswith("_"):
                    defs[node.name] = str(path.relative_to(ROOT))
    return defs


def test_every_public_operator_is_reachable():
    defs = _public_definitions()
    referenced = _referenced_names()
    unreached = {
        name: where
        for name, where in defs.items()
        if name not in referenced and name not in ALLOWLIST
    }
    assert not unreached, (
        "public functions nothing runs (delete them, or add the name to "
        f"ALLOWLIST with the reason it stays): {unreached}"
    )
    # a stale entry would let a future orphan with that name slip through
    assert set(ALLOWLIST) <= set(defs), set(ALLOWLIST) - set(defs)
    assert not (set(ALLOWLIST) & referenced), set(ALLOWLIST) & referenced
