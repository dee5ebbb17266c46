"""Order-insensitive result digest, value for value the same as
harness/graftbench/Digest.scala (the encoding is specified in README.md).

digest = "<rows>:<sum of row hashes mod 2^64, hex>:<column-set hash>"
"""
import calendar
import datetime
import decimal
import hashlib
import math
import struct


def enc(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return struct.pack(">d", 0.0 if v == 0.0 else v).hex()
    if isinstance(v, decimal.Decimal):
        if v == 0:
            return "0"
        return format(v.normalize(), "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(calendar.timegm(v.timetuple()) * 1000000 + v.microsecond)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(enc(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(enc(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    """`rows` are tuples in `columns` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        line = "\x1f".join(enc(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
        n += 1
    cols = hashlib.md5(",".join(sorted(columns)).encode("utf-8")).hexdigest()[:8]
    return "%d:%016x:%s" % (n, total % (1 << 64), cols)


def parquet_digest(path):
    """Digest of a parquet directory, read with pyarrow (not the engine)."""
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet").to_table()
    cols = t.column_names
    data = [t.column(c).to_pylist() for c in cols]
    return digest(cols, zip(*data)) if cols else digest(cols, []), t.num_rows
