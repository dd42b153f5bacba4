"""Order-insensitive result digest, the Python twin of `Digest.scala`.

A row renders its columns in column-name order, joined by U+001F; floats
and decimals round to 7 significant digits (half-even on the exact
value) and print as `<unscaled>e<exponent>` with trailing zeros
stripped; integers print exactly. The digest is the row count plus the
sum, modulo 2^64, of each rendered row's SHA-256 prefix.
"""
import decimal
import hashlib
import math

_CTX = decimal.Context(prec=7, rounding=decimal.ROUND_HALF_EVEN)


def _decimal(d):
    if d == 0:
        return "0"
    sign, digits, exp = _CTX.plus(d).normalize(_CTX).as_tuple()
    unscaled = int("".join(map(str, digits)))
    return f"{-unscaled if sign else unscaled}e{exp}"


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return _decimal(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _decimal(v)
    if isinstance(v, str):
        return v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    raise TypeError(f"no canonical rendering for {type(v).__name__}")


def row_hash(text):
    return int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")


def digest(columns, rows):
    """(row count, 16-hex-digit digest) of rows given in `columns` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + row_hash("\x1f".join(render(r[i]) for i in order))) % (1 << 64)
    return len(rows), f"{total:016x}"
