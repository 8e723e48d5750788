"""Output check: every query's result against its DuckDB oracle, plus
the pre-flight on row counts that guards the generated inputs.

The oracle SQL comes from ``registry.ORACLES`` and the comparison from
``tools/verify_oracle.compare`` (row count, column names, and an
order-insensitive value compare), both imported, not copied.
"""

from __future__ import annotations

import json
from pathlib import Path

HERE = Path(__file__).resolve().parent

# a generated corpus must give each query a row count within this
# factor of the reference tier's count (and at least one row)
ROW_FACTOR = 3.0


def reference_rows() -> dict[str, int]:
    return json.loads((HERE / "reference_rows.json").read_text())["rows"]


def preflight(name: str, n_rows: int, reference: dict[str, int]) -> str | None:
    """None when ``n_rows`` is plausible for ``name``, else the reason."""
    ref = reference.get(name)
    if n_rows < 1:
        return "returned no rows"
    if ref is None:
        return "has no reference row count"
    if not ref / ROW_FACTOR <= n_rows <= ref * ROW_FACTOR:
        return f"returned {n_rows} rows, reference {ref} (allowed factor {ROW_FACTOR:g})"
    return None


class OracleCheck:
    """DuckDB views over one corpus directory and the per-query compare."""

    def __init__(self, sf_dir: str) -> None:
        from verify_oracle import duck_con

        self.con = duck_con(sf_dir)

    def problems(self, name: str, spark_pdf) -> list[str]:
        from verify_oracle import compare

        from skills_vectors_spark import registry

        sql = registry.ORACLES.get(name)
        if sql is None:
            return ["no oracle registered"]
        duck_pdf = self.con.execute(sql).df()
        return compare(name, spark_pdf, duck_pdf)

    def close(self) -> None:
        self.con.close()
