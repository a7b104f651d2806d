#!/usr/bin/env python3
"""Write the CPython repr(float) fixture that pins graft.core.grid.PyFloat.

Usage: python3 tools/gen_pyfloat_fixture.py [--out PATH]

Standard library only, offline, seeded with SEED (the header records it).
Each row is `<16 hex digits of the IEEE-754 bits>\t<repr(float)>`; lines
starting with '#' are comments. The rows cover random bit patterns, [0, 1)
uniforms, 2-decimal money values, small ratios like the detection cascade's
confidences, subnormals (5e-324 among them), powers of two 2^52..2^90 and
their neighbours, the binary exponents where a per-length printf search is
neither shortest nor nearest, powers of ten, and the neighbourhoods of the
notation switches at 1e16 and 1e-4 / 1e-5.
"""
import argparse
import math
import os
import random
import struct
import sys

SEED = 20181
DEFAULT_OUT = os.path.normpath(os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..",
    "src", "test", "resources", "pyfloat", "cpython_repr.tsv"))


def bits(x):
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def from_bits(b):
    return struct.unpack("<d", struct.pack("<Q", b))[0]


def neighbours(x, n=2):
    out = [x]
    lo = hi = x
    for _ in range(n):
        lo = math.nextafter(lo, -math.inf)
        hi = math.nextafter(hi, math.inf)
        out += [lo, hi]
    return out


def values(rng):
    vs = [0.0, -0.0, math.inf, -math.inf, math.nan]
    # random bit patterns over every finite double
    for _ in range(5000):
        b = rng.getrandbits(64)
        while (b >> 52) & 0x7FF == 0x7FF:
            b = rng.getrandbits(64)
        vs.append(from_bits(b))
    # [0, 1) uniforms
    vs += [rng.random() for _ in range(3000)]
    # 2-decimal money values, parsed as a table cell would be
    for _ in range(2000):
        vs.append(float("%d.%02d" % (rng.randrange(0, 10 ** rng.randint(1, 9)), rng.randrange(100))))
    # small ratios and the cascade's confidence arithmetic (base * factor - penalty)
    for _ in range(2000):
        a, b = rng.randint(0, 400), rng.randint(1, 400)
        vs.append(a / b)
    for _ in range(1000):
        base = rng.choice([0.95, 0.9, 0.85, 0.8, 0.75, 0.7, 0.65, 0.6])
        vs.append(min(1.0, base * (1 + rng.randint(0, 40) / 320) - rng.randint(0, 8) * 0.0125))
    # subnormals: the smallest 600 in order, then random ones
    vs += [from_bits(t) for t in range(1, 601)]
    vs += [from_bits(rng.randrange(1, 1 << 52)) for _ in range(1000)]
    # powers of two 2^52..2^90, each with two neighbours either side
    for e in range(52, 91):
        vs += neighbours(math.ldexp(1.0, e))
    # binary exponents 59..62 and 84, two known cases among them
    vs += [7.944023845517972e+18, -6.525038922879807e+18]
    for e in list(range(59, 63)) + [84]:
        for _ in range(400):
            vs.append(math.ldexp(1.0 + rng.random(), e))
    # powers of ten and their neighbours
    for e in range(-30, 31):
        vs += neighbours(float("1e%d" % e), 1)
    # the positional / scientific switches at 1e16 and 1e-4 / 1e-5
    for x in (1e16, 9999999999999998.0, 1e-4, 1e-5, 9.999999999999999e-05,
              0.00010000000000000002):
        vs += neighbours(x, 8)
    for _ in range(500):
        vs.append(rng.uniform(1e15, 1e17))
        vs.append(rng.uniform(1e-6, 1e-3))
    # the extremes
    vs += [sys.float_info.max, math.nextafter(sys.float_info.max, 0)]
    vs += neighbours(sys.float_info.min, 3)
    negs = [-v for v in vs if rng.random() < 0.25 and not math.isnan(v)]
    return vs + negs


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=DEFAULT_OUT)
    args = ap.parse_args()
    rng = random.Random(SEED)
    seen = set()
    rows = []
    for v in values(rng):
        b = bits(v)
        if b in seen:
            continue
        seen.add(b)
        rows.append("%016x\t%r" % (b, v))
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w", newline="\n") as f:
        f.write("# bits\trepr -- python3 tools/gen_pyfloat_fixture.py, seed %d (CPython %s)\n"
                % (SEED, sys.version.split()[0]))
        f.write("\n".join(rows) + "\n")
    print("wrote %d rows to %s" % (len(rows), args.out))


if __name__ == "__main__":
    main()
