"""The engine takes its physical strategy from code and CrawlConfig only:
no module of the package may read the process environment, so an A/B
lever cannot pick a plan that no test or benchmark selected."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "crawler_service_spark"


def _env_reads(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv")
                and isinstance(node.value, ast.Name) and node.value.id == "os"):
            lines.append(node.lineno)
        elif (isinstance(node, ast.ImportFrom) and node.module == "os"
              and any(a.name in ("environ", "getenv") for a in node.names)):
            lines.append(node.lineno)
    return lines


def test_package_reads_no_environment():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    offenders = {
        str(p.relative_to(PACKAGE)): hits
        for p in modules
        if (hits := _env_reads(ast.parse(p.read_text(), str(p))))
    }
    assert offenders == {}


def test_guard_detects_environment_reads():
    assert _env_reads(ast.parse("import os\nx = os.environ.get('A')")) == [2]
    assert _env_reads(ast.parse("import os\nx = os.getenv('A')")) == [2]
    assert _env_reads(ast.parse("from os import environ")) == [1]
