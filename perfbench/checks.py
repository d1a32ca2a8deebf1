"""Output check: row count, schema and an order-insensitive value hash.

Expectations live in ``expected.json`` beside this file, one entry per
query. An entry whose ``hash`` is ``null`` belongs to a query whose values
are not bit-stable from run to run; only its row count and schema are
compared.

Floats are hashed at 12 significant digits, so the last-ulp jitter of a
floating-point sum whose order follows partitioning does not count as a
changed value.
"""

from __future__ import annotations

import hashlib
import json
import os


def _canon(v):
    if isinstance(v, float):
        return float(f"{v:.12g}")
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def value_hash(rows) -> str:
    """sha256 over the sorted per-row digests: independent of row order."""
    digests = sorted(
        hashlib.sha256(repr(_canon(list(r))).encode()).hexdigest() for r in rows
    )
    return hashlib.sha256("".join(digests).encode()).hexdigest()


def summarize(df) -> dict:
    rows = df.collect()
    return {"rows": len(rows), "schema": df.schema.simpleString(), "hash": value_hash(rows)}


def compare(expected: dict | None, got: dict) -> str | None:
    """None when ``got`` matches, else what differs."""
    if expected is None:
        return "no expectation recorded"
    for key in ("rows", "schema", "hash"):
        if key == "hash" and expected.get("hash") is None:
            continue
        if expected.get(key) != got[key]:
            return f"{key}: expected {expected.get(key)!r}, got {got[key]!r}"
    return None


def load_expected(path: str) -> dict:
    if not os.path.isfile(path):
        return {}
    with open(path) as f:
        return json.load(f)["queries"]

