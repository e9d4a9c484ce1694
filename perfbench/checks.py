"""Output checks: order-independent content hashes and the committed goldens."""

from __future__ import annotations

import hashlib
import json
import os

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def digest_sum(rows) -> tuple[int, int]:
    """(row count, sum of SHA-256 digests) of rows, each a tuple of str, int
    and None hashed through its ``repr``. Sums of disjoint parts add up."""
    total = 0
    n = 0
    for row in rows:
        total += int.from_bytes(hashlib.sha256(repr(tuple(row)).encode("utf-8")).digest(), "big")
        n += 1
    return n, total


def merge(parts) -> tuple[int, str]:
    """(row count, hash) from the digest sums of disjoint parts of a multiset.

    The hash is the digest sum modulo 2**256: independent of row order, and
    any change to one byte of one row changes it.
    """
    parts = list(parts)
    total = sum(t for _, t in parts) % (1 << 256)
    return sum(n for n, _ in parts), f"{total:064x}"


def content_hash(rows) -> tuple[int, str]:
    return merge([digest_sum(rows)])


def load_golden() -> dict:
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        return json.load(f)


def golden_for(workload: str, size: int, seed: int) -> dict | None:
    return load_golden().get(f"{workload}/n{size}/s{seed}")


def record_golden(workload: str, size: int, seed: int, summary: dict) -> None:
    golden = load_golden()
    golden[f"{workload}/n{size}/s{seed}"] = summary
    with open(GOLDEN_PATH, "w", encoding="utf-8") as f:
        json.dump(dict(sorted(golden.items())), f, indent=1, sort_keys=True)
        f.write("\n")
