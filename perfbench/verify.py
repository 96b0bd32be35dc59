"""Output checks, run outside every timed interval.

- Registry rows are compared with their DuckDB oracle at the workload's
  scale factor through ``tools/check_oracle.py``'s ``duck_connect`` /
  ``compare`` (the repository's correctness gate).
- Each result also gets an order-insensitive checksum; a result whose
  checksum equals one already proven correct for the same op is correct
  without a second compare, so repeated passes cost one hash each.
- The ``types`` sums are cross-checked against ``sum(CAST(float AS DOUBLE))``
  to f32 tolerance.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd

#: relative tolerance of an f32 sum of 1M values against the f64 sum
F32_SUM_RTOL = 1e-4


def checksum(rows) -> tuple[int, int]:
    """(row count, order-insensitive digest) of an iterable of row tuples."""
    total, n = 0, 0
    for row in rows:
        digest = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) % (1 << 64)
        n += 1
    return n, total


def rows_to_pandas(schema, columns: list[str], rows, timezone: str) -> pd.DataFrame:
    """The non-Arrow ``toPandas`` conversion applied to rows that were
    already collected, so the timed ``collect()`` result is what gets
    checked."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    if not rows:
        return pd.DataFrame(columns=columns)
    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=columns)
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=timezone,
                struct_in_pandas="row",
                error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


class OracleChecker:
    """Compares op results with DuckDB oracles; one oracle query per op."""

    def __init__(self, sf_dir: str):
        from tools.check_oracle import duck_connect

        self._con = duck_connect(sf_dir)
        self._expected: dict[str, pd.DataFrame] = {}
        self._good: dict[str, set[tuple[int, int]]] = {}

    def close(self) -> None:
        self._con.close()

    def check(self, name: str, oracle_sql: str, digest: tuple[int, int], load) -> list[str]:
        """Problems with one result (empty when correct). ``load()`` gives
        the result as pandas; it is only called when ``digest`` is new."""
        from tools.check_oracle import compare

        if digest in self._good.get(name, ()):
            return []
        if name not in self._expected:
            self._expected[name] = self._con.execute(oracle_sql).df()
        problems = [p for p in compare(load(), self._expected[name]) if ": dtype spark=" not in p]
        if not problems:
            self._good.setdefault(name, set()).add(digest)
        return problems


def repl_value(printed: str) -> float:
    """The single value of a one-row, one-column table printed by
    ``repl.run_sql``."""
    body = [ln for ln in printed.splitlines() if ln.startswith("|")]
    if len(body) != 2:
        raise ValueError(f"expected a header and one row, got {len(body)} table lines")
    return float(body[1].strip("| "))


def sum_problems(value: float, reference: float) -> list[str]:
    if math.isclose(value, reference, rel_tol=F32_SUM_RTOL):
        return []
    return [f"sum {value!r} differs from f64 reference {reference!r} beyond rtol {F32_SUM_RTOL}"]
