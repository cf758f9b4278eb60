"""Pure helpers shared by the benchmark's generator and runner.

- `row_hash` / `digest_rows`: an order-insensitive digest of a result
  set. Each row is rendered canonically (columns in name order), hashed
  with SHA-256, and the first 8 bytes are summed mod 2**64. The JVM side
  (`graft.perfbench.Digest`) renders Spark rows by the same rules, so a
  DuckDB oracle result and a Spark result compare by digest alone.
- `percentile`: nearest-rank percentile, and `tail_percentile`, the
  highest percentile with at least ten samples beyond it.
- `union_length`: total length covered by a set of intervals, clipped to
  a window; `driver_only_s` is a span's length minus this.
"""
import datetime
import decimal
import hashlib
import math
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_MAX_EXACT = 2 ** 53


def canon(v):
    """Canonical text of one value; must match Digest.canon in Scala."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == math.floor(v) and abs(v) < _MAX_EXACT:
            return "i%d" % int(v)
        return "d" + struct.pack(">d", v).hex()
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return "i%d" % int(v)
        return "m" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s%d:%s" % (len(v), v)
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            delta = v - _EPOCH
        else:
            delta = v - _EPOCH_TZ
        return "t%d" % (delta // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D" + v.isoformat()
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    raise TypeError("no canonical form for %r" % type(v))


def row_hash(values):
    text = "|".join(canon(v) for v in values)
    return int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8],
                          "big")


def digest_rows(columns, rows):
    """Digest of `rows` (sequences aligned with `columns`), independent of
    row order and of column order: columns are taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash([r[i] for i in order])) % (1 << 64)
        n += 1
    return "%d:%016x" % (n, total)


def digest_dicts(rows):
    """Digest of a list of dicts that all share the same keys."""
    if not rows:
        return "0:%016x" % 0
    cols = list(rows[0].keys())
    return digest_rows(cols, [[r[c] for c in cols] for r in rows])


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n):
    """The highest whole percentile with at least ten of `n` samples
    strictly beyond its nearest-rank position, or None."""
    best = None
    for p in range(50, 100):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            best = p
    return best


def union_length(intervals, lo, hi):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_only(intervals, lo, hi):
    """Part of [lo, hi) during which no task interval is running."""
    return (hi - lo) - union_length(intervals, lo, hi)

