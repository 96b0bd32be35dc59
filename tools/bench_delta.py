#!/usr/bin/env python
"""Emit a machine-readable round-over-round bench delta table.

Usage: python tools/bench_delta.py BENCH_rO2.json BENCH_r03.json
   or: python tools/bench_delta.py BENCH_r02.json local_bench.jsonl

Accepts either the driver's BENCH_r{N}.json wrapper (reads .parsed) or a
raw one-line JSON from bench.py. Prints a markdown table of per-query
medians with absolute and relative deltas (negative = faster), each
side's sample count per query (from its "samples" map, 10 when absent —
bench.py records only sf rows there, so the fixed-count ``types``
probes read as 10), and each side's "dropped" rows under the table.
"""

from __future__ import annotations

import json
import sys

DEFAULT_SAMPLES = 10


def load(path: str) -> dict:
    with open(path) as fh:
        doc = json.load(fh)
    if "parsed" in doc and isinstance(doc["parsed"], dict):
        doc = doc["parsed"]
    return doc


def n_samples(doc: dict, name: str) -> str:
    if name not in doc.get("queries", {}):
        return "—"
    return str(doc.get("samples", {}).get(name, DEFAULT_SAMPLES))


def main(old_path: str, new_path: str) -> int:
    old, new = load(old_path), load(new_path)
    oq, nq = old.get("queries", {}), new.get("queries", {})

    print(f"| query | {old_path} (s) | {new_path} (s) | delta (s) | delta (%) "
          "| n old | n new |")
    print("|---|---|---|---|---|---|---|")
    for name in nq:
        b = nq[name]
        a = oq.get(name)
        n = f" {n_samples(old, name)} | {n_samples(new, name)} |"
        if a is None:
            print(f"| {name} | — | {b:.3f} | new | new |{n}")
        else:
            print(
                f"| {name} | {a:.3f} | {b:.3f} | {b - a:+.3f} |"
                f" {(b - a) / a * 100:+.1f}% |{n}"
            )
    for name in oq:
        if name not in nq:
            print(f"| {name} | {oq[name]:.3f} | — | removed | removed |"
                  f" {n_samples(old, name)} | — |")
    ot, nt = old.get("value"), new.get("value")
    if ot and nt:
        print(
            f"| **total** | {ot:.3f} | {nt:.3f} | {nt - ot:+.3f} |"
            f" {(nt - ot) / ot * 100:+.1f}% | | |"
        )
    for path, doc in ((old_path, old), (new_path, new)):
        dropped = doc.get("dropped") or []
        print(f"\ndropped in {path}: {', '.join(dropped) or 'none'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1], sys.argv[2]))
