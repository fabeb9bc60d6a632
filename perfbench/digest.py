"""Order-independent result digest, the Python twin of `perfbench.Digest`.

Each row renders its columns sorted by name into a canonical string; the
MD5 prefix of that string is read as an unsigned 64-bit number, and the
digest is the row count plus the sum of those numbers mod 2^64. Numbers
compare by value across types, timestamps as epoch microseconds.
"""

import datetime
import decimal
import hashlib
import math
import struct

_EPOCH = datetime.datetime(1970, 1, 1)


def _num(d):
    if math.isnan(d):
        return "nan"
    if not math.isinf(d) and d == math.floor(d) and abs(d) < 1e15:
        return f"i{int(d)}"
    bits = struct.unpack(">q", struct.pack(">d", d))[0]
    return "f" + format(bits & 0xFFFFFFFFFFFFFFFF, "x")


def render(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, (float, decimal.Decimal)):
        return _num(float(v))
    if isinstance(v, str):
        return f"s{len(v.encode('utf-8'))}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"t{(v - _EPOCH) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return f"d{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return "b" + v.hex()
    if isinstance(v, dict):
        return "(" + ",".join(render(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\u0001".join(f"{columns[i]}={render(r[i])}" for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{total & 0xFFFFFFFFFFFFFFFF:016x}"
