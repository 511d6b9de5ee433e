"""Order-insensitive digest of a query result.

The canonical form is the repository's oracle harness,
``tests.oracle.canonical_rows``: values rounded to 6 decimal places,
columns sorted by name, rows sorted.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd

from tests.oracle import canonical_rows


def digest(df: pd.DataFrame) -> str:
    """sha256 over the sorted column names and the canonical rows."""
    payload = json.dumps([sorted(df.columns), canonical_rows(df)])
    return hashlib.sha256(payload.encode()).hexdigest()
