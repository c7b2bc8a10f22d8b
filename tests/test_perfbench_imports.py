"""Every program name the benchmark harness imports still exists.

``perfbench/`` and ``__spark_entry__.py`` import product names inside
functions, so a deleted or renamed name fails only when a benchmark run or the
driver contract reaches that line. This test reads their ``from
flink_job_spark... import`` statements with ``ast`` and checks each name on
the imported module, without starting Spark.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted((ROOT / "perfbench").glob("*.py")) + [ROOT / "__spark_entry__.py"]


def _imports() -> list[tuple[str, str, str]]:
    out = set()
    for path in SOURCES:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.ImportFrom) and node.level == 0
                    and (node.module or "").split(".")[0] == "flink_job_spark"):
                out |= {(path.name, node.module, a.name) for a in node.names}
    return sorted(out)


IMPORTS = _imports()


def test_harness_imports_were_found():
    assert {"workloads.py", "__spark_entry__.py"} <= {f for f, _, _ in IMPORTS}


@pytest.mark.parametrize("source,module,name", IMPORTS,
                         ids=[f"{f}:{m}.{n}" for f, m, n in IMPORTS])
def test_imported_name_exists(source, module, name):
    assert hasattr(importlib.import_module(module), name), (
        f"{source} imports {name} from {module}, which has no such name")
