"""Dump every SQL text the registry renders, for a before/after diff of a
refactor that should change only how SQL is spelled in the source.

Usage: python tools/dump_sql.py OUT.json SF_DIR [query ...]
       python tools/dump_sql.py --diff OLD.json NEW.json

Writes one sorted JSON file with two parts:

- ``oracles``: each row's rendered DuckDB oracle, from ``all_oracles()``;
- ``spark_sql``: each row's statements passed to ``SparkSession.sql``
  while the row's DataFrame is built, in call order. They are captured by
  wrapping the method; nothing is collected (a row whose operator cuts
  its lineage eagerly still runs those jobs while it is built).

``SF_DIR`` is a generated data dir (the tests use sf0.001). Run it from
the root of each checkout (the package is imported from the working directory) and
compare the two files, e.g. with whitespace runs collapsed::

    python tools/dump_sql.py /tmp/new.json SF_DIR
    (cd ../parent && python /path/to/tools/dump_sql.py /tmp/old.json SF_DIR)
    python tools/dump_sql.py --diff /tmp/old.json /tmp/new.json
"""

from __future__ import annotations

import json
import re
import sys

sys.path.insert(0, ".")


def _collapse(text: str) -> str:
    return re.sub(r"\s+", " ", text).strip()


def diff(old_path: str, new_path: str) -> int:
    """Print every row whose texts differ after whitespace collapse (and
    rows present on one side only); exit status 1 if any do."""
    with open(old_path) as f:
        old = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    bad = 0
    for part in ("oracles", "spark_sql"):
        a, b = old[part], new[part]
        for name in sorted(set(a) | set(b)):
            if name not in a or name not in b:
                print(f"{part}: {name} only in {'new' if name in b else 'old'}")
                bad += 1
                continue
            x, y = a[name], b[name]
            if isinstance(x, list):
                same = [_collapse(s) for s in x] == [_collapse(s) for s in y]
            else:
                same = _collapse(x) == _collapse(y)
            if not same:
                print(f"{part}: {name} differs")
                bad += 1
    print(f"{bad} differing entries")
    return 1 if bad else 0


def main() -> int:
    if sys.argv[1] == "--diff":
        return diff(sys.argv[2], sys.argv[3])
    out = sys.argv[1]
    sf_dir = sys.argv[2]
    names = sys.argv[3:]

    from pyspark.sql import SparkSession

    from datafusion_gpu_spark.context import get_spark
    from datafusion_gpu_spark.queries import all_oracles, all_queries

    seen: list[str] = []
    real_sql = SparkSession.sql

    def recording_sql(self, sqlQuery, *args, **kwargs):
        seen.append(sqlQuery)
        return real_sql(self, sqlQuery, *args, **kwargs)

    spark = get_spark("dump-sql")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    oracles = all_oracles()
    names = names or list(registry)
    statements: dict[str, list[str]] = {}
    SparkSession.sql = recording_sql  # type: ignore[method-assign]
    try:
        for name in names:
            seen.clear()
            try:
                registry[name](spark, sf_dir)
            except Exception as e:  # a row that fails to build says so
                seen.append(f"<build failed: {type(e).__name__}>")
            statements[name] = list(seen)
            print(f"{name}: {len(seen)} statements", file=sys.stderr)
    finally:
        SparkSession.sql = real_sql  # type: ignore[method-assign]
    dump = {
        "oracles": {n: oracles[n] for n in names if n in oracles},
        "spark_sql": statements,
    }
    with open(out, "w") as f:
        json.dump(dump, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
