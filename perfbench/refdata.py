"""The benchmark's input tables: the engine's sf0.01 reference fixtures.

``data/sf0.01`` holds byte-identical copies of the reference tables
(`region nation customer supplier part orders lineitem events documents
embeddings`, one parquet file each; lineitem 60,000 rows, orders 15,000,
documents and embeddings 500 each). They ship with the benchmark because
it must read nothing outside its own checkout. ``data/SHA256SUMS`` pins
their contents; :func:`check` refuses a tree whose copies differ.
"""

from __future__ import annotations

import hashlib
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.join(HERE, "data")
SF = 0.01
SF_DIR = os.path.join(ROOT, "sf0.01")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def check(root: str = ROOT) -> list[str]:
    """Mismatches between the table files under ``root`` and its
    ``SHA256SUMS``."""
    errs = []
    with open(os.path.join(root, "SHA256SUMS")) as fh:
        sums = dict(reversed(line.split()) for line in fh if line.strip())
    for t in TABLES:
        rel = f"sf0.01/{t}.parquet"
        try:
            with open(os.path.join(root, rel), "rb") as f:
                got = hashlib.sha256(f.read()).hexdigest()
        except OSError as exc:
            errs.append(f"{rel}: {exc}")
            continue
        if got != sums.get(rel):
            errs.append(f"{rel}: sha256 {got} differs from SHA256SUMS")
    return errs
