"""One Python boundary: every Python stage in grokspark/ crosses between
the JVM and Python as Arrow (``arrow_udf``, ``mapInArrow``,
``applyInArrow``). The one exception is ``streaming.stream_first_seen``,
whose state operator, ``applyInPandasWithState``, has no Arrow form in
Spark 4.1, so streaming.py alone may import pandas."""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_PANDAS_STAGE = re.compile(
    r"pandas_udf|applyInPandas\(|mapInPandas|^\s*(import pandas|from pandas\b)"
)
_ALLOWED = {("streaming.py", "import pandas as pd")}


def test_python_stages_cross_as_arrow():
    hits = [
        f"{path.relative_to(REPO)}:{k}: {line.strip()}"
        for path in sorted((REPO / "grokspark").rglob("*.py"))
        for k, line in enumerate(path.read_text().splitlines(), 1)
        if _PANDAS_STAGE.search(line)
        and (path.name, line.strip()) not in _ALLOWED
    ]
    assert not hits, "\n".join(hits)
