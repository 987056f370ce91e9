"""Source guard: every parquet read in the package goes through
``sources.readers.read_parquet``.

A bare ``spark.read.parquet(path)`` starts a Spark job to infer the
schema from a footer; the helper reads that footer on the driver and
starts none.  This check walks the package's syntax trees, so a new
direct read fails here instead of bringing the schema job back.  The
one deliberate ``mergeSchema=true`` read (merging two schema versions
is that entry's point) is the only exception.
"""

from __future__ import annotations

import ast
import os

import big_data_table_spark as pkg

_ROOT = os.path.dirname(pkg.__file__)
_HELPER = os.path.join("sources", "readers.py")


def _chain_attrs(node: ast.AST) -> list[str]:
    """Attribute names along a call chain like ``spark.read.option(..).parquet``."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            return names


def _merge_schema_read(call: ast.Call) -> bool:
    node = call.func.value
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        if node.func.attr == "option" and [
            a.value for a in node.args if isinstance(a, ast.Constant)
        ] == ["mergeSchema", "true"]:
            return True
        node = node.func.value
    return False


def _direct_parquet_reads(root: str = _ROOT) -> list[str]:
    found = []
    for dirpath, _, files in os.walk(root):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            if rel == _HELPER:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and "read" in _chain_attrs(node.func.value)
                    and not _merge_schema_read(node)
                ):
                    found.append(f"{rel}:{node.lineno}")
    return found


def test_no_direct_parquet_read_outside_helper():
    assert _direct_parquet_reads() == [], (
        "read parquet through sources.readers.read_parquet, which takes the "
        "schema from one footer instead of starting a Spark job"
    )


def test_guard_sees_a_direct_read(tmp_path):
    """The walk really flags ``spark.read.parquet`` and option chains."""
    pkg_dir = tmp_path / "pkg"
    pkg_dir.mkdir()
    (pkg_dir / "m.py").write_text(
        "def f(spark, p):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.option('x', 'y').parquet(p)\n"
        "    c = spark.read.option('mergeSchema', 'true').parquet(p, p)\n"
        "    d = spark.readStream.schema(a.schema).parquet(p)\n"
        "    return a, b, c, d\n"
    )
    assert _direct_parquet_reads(str(pkg_dir)) == ["m.py:2", "m.py:3"]
