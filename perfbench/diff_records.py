#!/usr/bin/env python3
"""Diff two per-key layer records written by traced ``registry_sweep``
runs (``.perfbench_work/records/registry_sweep-seed<N>-trace1.json``).

    python3 perfbench/diff_records.py OLD.json NEW.json [--bound 0.15]

Flags every key whose plan fingerprint changed, or whose build or exec
seconds moved by more than ``--bound`` (as a share of the old value)
and by more than ``--min-s`` seconds.  Exits 1 when a key is flagged.
Per-key times of sub-second keys vary from pass to pass, so compare
records of the same seed and read a flag as a lead, not a verdict.
"""

from __future__ import annotations

import argparse
import json
import sys


def load_keys(path: str) -> dict[str, dict]:
    with open(path) as f:
        rec = json.load(f)
    keys = rec.get("keys") or {}
    if not keys or "fingerprint" not in next(iter(keys.values())):
        raise SystemExit(f"{path}: not a traced registry_sweep record")
    return keys


def diff(old: dict, new: dict, bound: float, min_s: float) -> list[str]:
    out = []
    for key in sorted(set(old) | set(new)):
        if key not in old or key not in new:
            out.append(f"{key}: only in {'new' if key in new else 'old'} record")
            continue
        a, b = old[key], new[key]
        fa, fb = a["fingerprint"], b["fingerprint"]
        if fa != fb:
            moved = {k: (fa.get(k), fb.get(k)) for k in fa if fa.get(k) != fb.get(k)}
            out.append(f"{key}: plan fingerprint changed {moved}")
        for layer in ("build_s", "exec_s"):
            x, y = a[layer], b[layer]
            if abs(y - x) > min_s and x > 0 and abs(y / x - 1.0) > bound:
                out.append(f"{key}: {layer} {x:.3f} -> {y:.3f} ({y / x:.2f}x)")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("old")
    p.add_argument("new")
    p.add_argument("--bound", type=float, default=0.15)
    p.add_argument("--min-s", type=float, default=0.05)
    args = p.parse_args(argv)
    flags = diff(load_keys(args.old), load_keys(args.new), args.bound, args.min_s)
    for line in flags:
        print(line)
    print(f"{len(flags)} flag(s)")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
