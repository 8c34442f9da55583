"""Arrow is the one batch format at the package's JVM<->Python boundary:
per-row stages go through ``functions.udfs.map_rows``, column stages are
``arrow_udf``s and grouped stages ``applyInArrow``.  The stateful
sessionizer (``applyInPandasWithState``) is the one exemption."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "cbor_ld_spark"
EXEMPT = {PACKAGE / "streaming" / "stateful.py"}
PANDAS_CALLS = {"pandas_udf", "mapInPandas", "applyInPandas"}


def _pandas_lines(source: str) -> list[int]:
    """Lines that import pandas (or a pandas-UDF name) or call one of
    ``PANDAS_CALLS``."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            bad = any(a.name.split(".")[0] == "pandas" for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            bad = ((node.module or "").split(".")[0] == "pandas"
                   or any(a.name in PANDAS_CALLS for a in node.names))
        elif isinstance(node, ast.Call):
            f = node.func
            bad = (f.attr if isinstance(f, ast.Attribute)
                   else getattr(f, "id", None)) in PANDAS_CALLS
        else:
            continue
        if bad:
            lines.append(node.lineno)
    return lines


def test_package_boundary_is_arrow():
    """No module under ``cbor_ld_spark/`` but the exempt one imports
    ``pandas`` or calls ``pandas_udf``, ``mapInPandas`` or
    ``applyInPandas``."""
    hits = [f"{path.relative_to(PACKAGE.parent)}:{line}"
            for path in sorted(PACKAGE.rglob("*.py")) if path not in EXEMPT
            for line in _pandas_lines(path.read_text())]
    assert hits == []


def test_scan_flags_each_pandas_idiom():
    src = ("import pandas as pd\n"
           "from pandas.api import types\n"
           "from pyspark.sql.functions import pandas_udf\n"
           "df.mapInPandas(f, s)\n"
           "g.applyInPandas(f, s)\n"
           "pandas_udf(f)\n"
           "df.mapInArrow(f, s)\n"
           "g.applyInArrow(f, s)\n"
           "import pyarrow as pa\n")
    assert sorted(_pandas_lines(src)) == [1, 2, 3, 4, 5, 6]
