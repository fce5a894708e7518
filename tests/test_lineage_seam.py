"""Every lineage truncation in the package goes through operators/lineage.py,
so ``set_reliable_checkpoint_dir`` reaches all of them. Spark-free: parses
the sources and fails on any direct ``localCheckpoint``/``checkpoint``
call outside the seam."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "covid_19_data_engineering_spark"
SEAM = PACKAGE / "operators" / "lineage.py"


def test_no_direct_checkpoint_calls_outside_lineage():
    direct = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == SEAM:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")):
                direct.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not direct, (
        "call lineage.truncate / truncate_eager via .transform(...) "
        f"instead: {direct}")
