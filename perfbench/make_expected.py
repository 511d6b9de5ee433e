#!/usr/bin/env python3
"""Regenerate ``expected.json``: the expected digest of every workload query.

    python3 perfbench/make_expected.py

Run from the repository root. Each digest comes from the query's DuckDB
twin in ``__spark_entry__.oracle_sql()``, run by the repository's oracle
harness (``tests.oracle.run_oracle``) on the committed, unpermuted tables
in ``data/``. Each entry records its source.

The twins run with every common table expression materialized. DuckDB
otherwise inlines a CTE at each reference; the label-propagation chain
in the near-duplicate twins (``l4`` reads ``l3`` twice, and so on) then
repeats the shingle self-join dozens of times, and ``neardup_components``
fills a 12.5 GiB buffer pool on sf0.001 before failing. Materializing changes how a CTE is evaluated, not its result;
rewriting anything that is not a CTE would be a syntax error.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import __spark_entry__ as entry  # noqa: E402
from corpus import DATA_DIR  # noqa: E402
from digest import digest  # noqa: E402
from tests.oracle import run_oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# "name AS (" opens a CTE, except in a WINDOW clause
_CTE = re.compile(r"(?<!WINDOW )\b(\w+) AS \(")


def materialized(sql: str) -> str:
    return _CTE.sub(r"\1 AS MATERIALIZED (", sql)


def main() -> None:
    oracles = entry.oracle_sql()
    out: dict = {}
    for w in WORKLOADS.values():
        sf_key = f"sf{w.sf}"
        done = out.setdefault(sf_key, {})
        for name in w.queries:
            if name in done:
                continue
            print(f"{sf_key} {name} ...", file=sys.stderr, flush=True)
            df = run_oracle(materialized(oracles[name]),
                            os.path.join(DATA_DIR, sf_key))
            done[name] = {
                "digest": digest(df), "rows": len(df),
                "source": (f"duckdb oracle_sql()['{name}'], CTEs "
                           f"materialized, on data/{sf_key}"),
            }
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
