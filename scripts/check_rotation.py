#!/usr/bin/env python
"""Rotation invariant checker: the driver gates the FIRST 50 entries
of the registry, so every rotation edit must verify that

  1. the 50-prefix has ZERO overlap with the previous round's
     externally-gated key set (CORRECTNESS_r{N-1}.json), and
  2. every prefix name actually resolves in the registry
     (a typo would silently yield its slot to an already-gated row).

Usage: python scripts/check_rotation.py [CORRECTNESS_rNN.json]
(default: the highest-numbered CORRECTNESS_r*.json in the repo root)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def latest_correctness() -> str:
    """The newest round's gate file: CORRECTNESS_r*.json with the
    highest round number (numeric, so r10 sorts after r09)."""
    paths = glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
    return max(paths, key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)))


def main() -> int:
    prev_path = sys.argv[1] if len(sys.argv) > 1 else latest_correctness()
    from streaming_recommendation_spark.queries import (
        _DRIVER_PRIORITY,
        registry,
    )

    reg = registry()
    missing = [n for n in _DRIVER_PRIORITY if n not in reg]
    prefix = list(reg)[:50]
    prev = set(json.load(open(prev_path)))
    overlap = sorted(set(prefix) & prev)
    print(f"registry: {len(reg)} queries; prefix head: {prefix[0]}")
    print(f"priority list: {len(_DRIVER_PRIORITY)} names, {len(missing)} unresolved")
    print(f"overlap of 50-prefix vs {prev_path}: {len(overlap)}")
    if missing:
        print("UNRESOLVED:", missing)
    if overlap:
        print("OVERLAP:", overlap)
    ok = not missing and not overlap
    print("OK" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
