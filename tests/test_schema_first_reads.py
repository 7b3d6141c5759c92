"""Guard: the package reads Parquet with a schema it already knows.

``spark.read.parquet(path)`` without ``.schema(...)`` infers the schema
from a file footer, and that starts a one-task Spark job on every read
(about 85 ms warm, against 11 ms with a declared schema). Bronze, the
dims, the fact, the curated corpus and the testdata tables all have a
known schema, so none of their reads should infer one. This test reads
the source with ``ast`` alone (no Spark session) and reports each
``.read.parquet(`` or ``.readStream.parquet(`` call whose receiver chain
has no ``.schema(`` call, as ``<path>:<line>``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "airflow_project_flight_price_analysis_spark"

#: Readers of paths whose schema the package does not know, mapped to the
#: reason; a key ending in ``/`` covers the whole directory.
EXEMPT = {
    f"{PKG}/operators/transactional.py":
        "reads the bucket files of a merge table whose schema the caller chose",
    f"{PKG}/plans/":
        "registered faces read back the scratch tables they just wrote, to "
        "exercise the inferring sink round trip they certify; neither benchmark "
        "workload runs them",
}


def _chain(node: ast.AST) -> list[str]:
    """Attribute and call names along a method chain, outermost first."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            return names


def inferring_reads() -> list[str]:
    found = []
    for path in sorted((REPO / PKG).rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        if any(rel == k or (k.endswith("/") and rel.startswith(k)) for k in EXEMPT):
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"):
                continue
            chain = _chain(node.func.value)
            if {"read", "readStream"} & set(chain) and "schema" not in chain:
                found.append(f"{rel}:{node.lineno}")
    return found


def test_no_parquet_read_infers_its_schema():
    found = inferring_reads()
    assert not found, (
        "Parquet reads without .schema(...) (each starts a footer-inference "
        "job; read with the schema the table was written with):\n  "
        + "\n  ".join(found))
