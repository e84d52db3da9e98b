"""Order-insensitive, exact result digests.

The same encoding is implemented by graft.bench.Digest on the JVM side.
It follows tools/check_oracle.py's comparison rules: columns sorted by
name, rows compared as a multiset, values compared exactly (a double by
its IEEE bits, which is what comparing Python's shortest repr amounts
to).  Every value is encoded with a type tag and, where it has a
variable length, a length prefix, so no two different rows encode alike.
"""
import datetime
import decimal
import hashlib
import math
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DATE = datetime.date(1970, 1, 1)


def encode(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "fnan"
        return "f" + struct.pack(">d", v).hex()
    if isinstance(v, decimal.Decimal):
        s = format(v.normalize(), "f") if v != 0 else "0"
        return f"d{s}"
    if isinstance(v, str):
        return f"s{len(v)}:{v}"
    if isinstance(v, (bytes, bytearray)):
        return f"x{bytes(v).hex()}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return f"t{(d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"D{(v - _EPOCH_DATE).days}"
    if isinstance(v, (list, tuple)):
        return "[" + "".join(encode(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + "".join(encode(x) for x in v.values()) + "}"
    raise TypeError(f"cannot encode {type(v).__name__}")


def digest(columns, rows):
    """Digest of a result: its sorted column names and its multiset of rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(
        hashlib.sha256("".join(encode(r[i]) for i in order).encode("utf-8")).hexdigest()
        for r in rows)
    h = hashlib.sha256()
    h.update(("\t".join(columns[i] for i in order) + "\n").encode("utf-8"))
    for x in hashes:
        h.update(x.encode("ascii"))
        h.update(b"\n")
    return {"rows": len(hashes), "sha": h.hexdigest()}


def lines_digest(lines):
    """Digest of a text output read as lines (one string column `line`)."""
    return digest(["line"], [(l,) for l in lines])
