"""Engine code looks up JVM classes by their full name only.

py4j's package view (``jvm.org.apache.hadoop.fs.Path``) costs one
gateway round trip per package segment; ``getattr(jvm,
"org.apache.hadoop.fs.Path")`` costs one in all (measured 3.5 ms against
0.1 ms per lookup). An AST scan, no Spark: any ``org``, ``java``,
``com`` or ``scala`` attribute taken off ``jvm`` or ``._jvm`` in the
package, ``__spark_entry__.py`` or ``deploy/`` fails the test.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "advanced_real_time_data_pipeline_and_analytical_processing_spark"
ROOTS = {"org", "java", "com", "scala"}
JVM = {"jvm", "_jvm"}


def _is_jvm(node: ast.expr) -> bool:
    if isinstance(node, ast.Name):
        return node.id in JVM
    return isinstance(node, ast.Attribute) and node.attr in JVM


def walk_lines(source: str) -> list[int]:
    """Line of every package-view lookup in ``source``."""
    return sorted(
        n.lineno
        for n in ast.walk(ast.parse(source))
        if isinstance(n, ast.Attribute) and n.attr in ROOTS and _is_jvm(n.value)
    )


def test_jvm_classes_are_looked_up_by_full_name():
    files = sorted(PACKAGE.rglob("*.py")) + [REPO / "__spark_entry__.py"]
    files += sorted((REPO / "deploy").rglob("*.py"))
    walks = [
        f"{f.relative_to(REPO)}:{line}" for f in files for line in walk_lines(f.read_text())
    ]
    assert walks == []


def test_scan_sees_every_spelling():
    code = "a = jvm.org.x\nb = spark._jvm.java.y\nc = gw.jvm.com.z\nd = getattr(jvm, 'scala.w')\n"
    assert walk_lines(code) == [1, 2, 3]
