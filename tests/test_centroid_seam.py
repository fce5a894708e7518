"""Every nearest-centroid rank and every fixed-point Lloyd update in the
package, Spark or oracle SQL, comes from operators/vectors.py
(``nearest_centroids`` / ``lloyd_update`` and their SQL twins
``nearest_centroids_sql`` / ``lloyd_update_sql``), so the (dist, cid) tie
rule and the floor(val * COORD_UNIT) arithmetic each have one spelling
per engine. Spark-free: scans the sources and fails on a hand-written
copy anywhere else."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "covid_19_data_engineering_spark"
SEAM = PACKAGE / "operators" / "vectors.py"

# a coordinate floored to integer units, the heart of a fixed-point update
FIXED_POINT = re.compile(
    r"floor\(\s*(?:F\.col\(\"val\"\)|val|e\[[^\]]*\])\s*\*\s*\{?\w+\}?\s*\)")
# a ROW_NUMBER per vector ordered by distance, then a centroid id or label
SQL_ARGMIN = re.compile(
    r"ROW_NUMBER\(\)\s+OVER\s*\(\s*PARTITION\s+BY\s+[\w.]+\s+ORDER\s+BY\s"
    r".{0,300}?,\s*\w+\.(?:f?cid|label)\s*\)", re.S)
# a Spark struct-min over a transformed centroid array
SPARK_ARGMIN = re.compile(
    r"array_min\(\s*(?:F\.)?transform\((?:(?!array_min).){0,200}?struct\(",
    re.S)


def _sources():
    for path in sorted(PACKAGE.rglob("*.py")):
        if path != SEAM:
            yield path, path.read_text()


def test_no_hand_written_argmin_or_lloyd_update_outside_vectors():
    found = []
    for path, text in _sources():
        for kind, rx in (("fixed-point update", FIXED_POINT),
                         ("SQL (dist, cid) argmin", SQL_ARGMIN),
                         ("Spark struct-min argmin", SPARK_ARGMIN)):
            for m in rx.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                found.append(f"{path.relative_to(PACKAGE)}:{line} {kind}")
    assert not found, (
        "use vectors.nearest_centroids / lloyd_update or their SQL twins "
        f"nearest_centroids_sql / lloyd_update_sql instead: {found}")


def test_squared_distance_comes_from_vectors():
    stale = []
    for path, text in _sources():
        for node in ast.walk(ast.parse(text, str(path))):
            if (isinstance(node, ast.ImportFrom)
                    and (node.module or "").endswith("kmeans")
                    and any(a.name.startswith("_sqdist") for a in node.names)):
                stale.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not stale, (
        f"import sqdist / sqdist_sql from operators/vectors.py: {stale}")
