#!/usr/bin/env python
"""Regenerate QUERIES.md from the registry docstrings.

Run after adding/renaming queries: ``python tools/gen_queries_md.py``
(writes QUERIES.md in place; commit the result).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import football_data_pipeline_spark.all_queries  # noqa: F401
from football_data_pipeline_spark.registry import QUERIES

HEADER = """# Query inventory

All driver-checkable queries in registration order, generated from
the registry docstrings — regenerate with
``python tools/gen_queries_md.py``. Every query has a DuckDB oracle
— zero rows-only checks. Run one via:

```python
import __spark_entry__ as e
df = e.queries()["q_star_join"](spark, "/root/testdata/sf0.01")
```

| query | summary |
|---|---|
"""


def summarize(doc: str, limit: int = 155) -> str:
    s = " ".join((doc or "").split()).replace("|", "\\|")
    return s[:limit]


def main() -> None:
    no_oracle = [n for n in QUERIES if QUERIES[n].oracle is None]
    assert not no_oracle, f"rows-only queries need a header note: {no_oracle}"
    lines = [HEADER]
    for name in QUERIES:
        lines.append(f"| `{name}` | {summarize(QUERIES[name].doc)} |\n")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(out, "w") as f:
        f.writelines(lines)
    print(f"wrote {out}: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
