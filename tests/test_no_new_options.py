"""Guard against user-set options creeping back into the package.

Every on/off option doubles the configurations the tests must cover,
and the A/B options that used to keep losing implementations alive
were removed once SCALING.md recorded their verdicts. The package may
read exactly one session conf of its own — the barrier mechanism
(``local`` | ``durable``, deployment fault recovery) — and, in the
session factory only, the three deployment environment variables.
A new option has to be added here on purpose, not slip in.
"""

from __future__ import annotations

import ast
import pathlib
import re

import bigdataprojectspring16_spark

PACKAGE = pathlib.Path(bigdataprojectspring16_spark.__file__).parent

ALLOWED_CONFS = {"barrierMode"}
ALLOWED_ENV = {
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "SPARK_GRAFT_DRIVER_MEM"),
    ("session.py", "SPARK_GRAFT_SHUFFLE_PARTITIONS"),
}

_CONF = re.compile(r"spark\.bigdataprojectspring16\.(\w*)")


def _const_str(node) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def _env_key(node, parents) -> str | None:
    """The literal key of an ``os.environ.get(k)`` / ``os.environ[k]``
    / ``os.getenv(k)`` read, or None when the key is not a literal or
    the access is any other use of the environment."""
    parent = parents.get(node)
    if getattr(node, "attr", getattr(node, "id", None)) == "getenv":
        if isinstance(parent, ast.Call) and parent.func is node and parent.args:
            return _const_str(parent.args[0])
        return None
    if isinstance(parent, ast.Subscript) and parent.value is node:
        return _const_str(parent.slice)
    if isinstance(parent, ast.Attribute) and parent.attr == "get":
        call = parents.get(parent)
        if isinstance(call, ast.Call) and call.func is parent and call.args:
            return _const_str(call.args[0])
    return None


def scan(source: str, filename: str) -> list[str]:
    """Every option read in ``source`` that the allow-lists do not
    cover, as ``file:line: what`` strings."""
    bad = []
    for lineno, line in enumerate(source.splitlines(), 1):
        for name in _CONF.findall(line):
            if name not in ALLOWED_CONFS:
                bad.append(f"{filename}:{lineno}: conf {name!r}")
    tree = ast.parse(source)
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            for alias in node.names:
                if alias.name in ("environ", "getenv"):
                    bad.append(f"{filename}:{node.lineno}: from os import")
            continue
        name = (
            node.attr
            if isinstance(node, ast.Attribute)
            else node.id
            if isinstance(node, ast.Name)
            else None
        )
        if name not in ("environ", "getenv"):
            continue
        key = _env_key(node, parents)
        if (filename, key) not in ALLOWED_ENV:
            bad.append(f"{filename}:{node.lineno}: env {key!r}")
    return bad


def test_package_reads_only_the_sanctioned_options():
    bad = []
    for path in sorted(PACKAGE.rglob("*.py")):
        bad += scan(path.read_text(), path.name)
    assert not bad, "new user-set options:\n" + "\n".join(bad)


def test_option_scanner_flags_each_spelling():
    snippets = [
        'K = "spark.bigdataprojectspring16.ccStarImpl"',
        'K = "spark.bigdataprojectspring16." + name',
        'import os\nx = os.environ.get("SPARK_GRAFT_BUCKETED_EVENTS", "1")',
        'import os\nx = os.environ["SPARK_GRAFT_CPUS"]',
        'import os\nx = os.getenv("SPARK_GRAFT_CPUS")',
        'import os\nx = os.environ.get(NAME)',
        'import os\nx = "SPARK_GRAFT_CPUS" in os.environ',
        'from os import environ',
    ]
    for src in snippets:
        assert scan(src, "ops.py"), src
    # the sanctioned reads pass, and only in the session factory
    ok = 'import os\nx = os.environ.get("SPARK_GRAFT_CPUS", "*")'
    assert scan(ok, "session.py") == []
    assert scan(ok, "tables.py")
    assert scan('K = "spark.bigdataprojectspring16.barrierMode"', "x.py") == []
