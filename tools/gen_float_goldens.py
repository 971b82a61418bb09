#!/usr/bin/env python3
"""Writes the wide CPython str(float) golden for PyFormat.pyFloatStr.

    python3 tools/gen_float_goldens.py

Standard library only, fixed seed: the output is the same on every run of
the same CPython. Each line of src/test/resources/golden/pyfloat_wide.tsv is

    <16 hex digits of the IEEE-754 bits>\t<str(v)>

and the rows cover, in this order (a value already written is skipped):
  - every power of two, 2**-1074 .. 2**1023;
  - the first 1,000 subnormals, where the shortest digits are one or two;
  - random bit patterns (either sign), plus +-0.0, NaN and +-inf;
  - price / quantity quotients shaped like the etl_convert formula
    (l_extendedprice / l_quantity);
  - the nextafter neighbours of the notation thresholds 1e-4 and 1e16 and
    of 1e-5, 1e7 and 1e15, on both sides and with both signs.
"""
import math
import random
import struct
from pathlib import Path

OUT = Path(__file__).resolve().parent.parent / "src/test/resources/golden/pyfloat_wide.tsv"
SEED = 20261018


def bits(v):
    return struct.unpack("<Q", struct.pack("<d", v))[0]


def from_bits(b):
    return struct.unpack("<d", struct.pack("<Q", b))[0]


def values(rng):
    yield from (math.ldexp(1.0, e) for e in range(-1074, 1024))
    yield from (from_bits(b) for b in range(1, 1001))
    yield from (0.0, -0.0, math.nan, math.inf, -math.inf)
    yield from (from_bits(rng.getrandbits(64)) for _ in range(1000))
    for _ in range(800):
        quantity = rng.randint(1, 50)
        price = rng.randint(90000, 10500000) / 100 * quantity
        yield price / quantity
        yield round(price, 2) / quantity
    for anchor in (1e-4, 1e-5, 1e7, 1e15, 1e16):
        for sign in (1.0, -1.0):
            lo = hi = sign * anchor
            yield lo
            for _ in range(10):
                lo = math.nextafter(lo, 0.0)
                hi = math.nextafter(hi, sign * math.inf)
                yield lo
                yield hi


def main():
    rng = random.Random(SEED)
    seen = set()
    rows = []
    for v in values(rng):
        b = bits(v)
        if b not in seen:
            seen.add(b)
            rows.append(f"{b:016x}\t{v}\n")
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text("".join(rows))
    print(f"{len(rows)} rows written to {OUT}")


if __name__ == "__main__":
    main()
