"""The package's environment-variable surface is pinned: every
``os.environ`` / ``os.getenv`` read under ``database2ogr_spark/`` must name a
variable on the allowlist below, with a literal name. A new env knob needs a
deliberate edit here. Spark-free."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "database2ogr_spark"

ALLOWED = {
    # session.get_spark
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_DRIVER_MEM",
    # functions.geometry
    "SPARK_GRAFT_USE_SEDONA",
    # sources.catalog (the reference's PostGIS connection)
    "ATES_CONNECTION_STRING",
    "PGHOST",
    "PGDATABASE",
    "PGUSER",
    "PGPASSWORD",
}


def _is_os_attr(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def env_reads(source: str) -> list[str]:
    """Names read from the environment in ``source``. A read whose name is
    not a string literal, or any other use of ``os.environ``, shows up as
    ``<non-literal>`` so it cannot slip past the allowlist."""
    tree = ast.parse(source)
    names: list[str] = []
    keyed: set[int] = set()  # os.environ nodes already accounted for
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Call) and node.args:
            fn = node.func
            if _is_os_attr(fn, "getenv"):
                key = node.args[0]
            elif isinstance(fn, ast.Attribute) and _is_os_attr(fn.value, "environ"):
                keyed.add(id(fn.value))
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and _is_os_attr(node.value, "environ"):
            keyed.add(id(node.value))
            key = node.slice
        elif isinstance(node, ast.Compare) and any(
            _is_os_attr(c, "environ") for c in node.comparators
        ):
            keyed.update(id(c) for c in node.comparators)
            key = node.left
        if key is not None:
            is_name = isinstance(key, ast.Constant) and isinstance(key.value, str)
            names.append(key.value if is_name else "<non-literal>")
    names += [
        "<non-literal>"
        for node in ast.walk(tree)
        if _is_os_attr(node, "environ") and id(node) not in keyed
    ]
    return names


def test_env_reads_are_allowlisted():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in env_reads(path.read_text()):
            found.setdefault(name, []).append(str(path.relative_to(PACKAGE)))
    unknown = {n: files for n, files in found.items() if n not in ALLOWED}
    assert not unknown, f"env vars read outside the allowlist: {unknown}"
    # the scan must see the reads it is meant to pin
    assert {"SPARK_GRAFT_CPUS", "PGHOST"} <= found.keys(), found


def test_env_reads_scanner_catches_every_read_form():
    src = (
        "import os\n"
        "a = os.environ.get('A')\n"
        "b = os.getenv('B', 'x')\n"
        "c = os.environ['C']\n"
        "d = 'D' in os.environ\n"
        "e = os.environ.get(name)\n"
        "f = dict(os.environ)\n"
    )
    assert sorted(env_reads(src)) == ["<non-literal>", "<non-literal>", "A", "B", "C", "D"]
