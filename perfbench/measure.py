"""Pure helpers of the benchmark: percentile selection, the answer
digest and span self time. `test_measure.py` covers them."""
import datetime as dt
import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "tools"))
# the oracle gate's table list and canonicalization
from check_oracle import TABLES, frame  # noqa: E402,F401


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a
    share `q` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def decode(v):
    """Turns the program's tagged JSON values back into the Python
    values Arrow would have produced for the same column."""
    if isinstance(v, list):
        return [decode(x) for x in v]
    if isinstance(v, dict):
        if "$ts_us" in v:
            return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=v["$ts_us"])
        if "$date" in v:
            return dt.date.fromisoformat(v["$date"])
        if "$hex" in v:
            return bytes.fromhex(v["$hex"])
        if "$struct" in v:
            return {k: decode(x) for k, x in v["$struct"].items()}
    return v


def canonical(cols, rows):
    """Order-independent canonical form (check_oracle's): columns sorted
    by name, values stringified, rows sorted."""
    return frame([tuple(decode(x) for x in r) for r in rows], list(cols))


def digest(cols, rows):
    """(row count, sha256 of the canonical rows)."""
    c, r = canonical(cols, rows)
    h = hashlib.sha256("\x1e".join(c).encode())
    for row in r:
        h.update(b"\n" + "\x1f".join(row).encode())
    return len(r), h.hexdigest()


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover.
    Children may overlap each other; their union is subtracted once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, end = 0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], end), min(c["end_ns"], hi)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (hi - lo) - covered
    return out
