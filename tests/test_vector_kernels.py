"""The SQL-built vector kernels (functions/numeric.py: ``dot``,
``l2_norm``, ``cosine``) against a pure-Python left-to-right float64
fold, bit for bit."""

from __future__ import annotations

import math
import random
import struct

from event_streaming_spark.functions.numeric import cosine, dot, l2_norm


def _f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def _fold(xs):
    """Left-to-right float64 sum; a null term makes the sum null."""
    acc = 0.0
    for x in xs:
        if x is None:
            return None
        acc += x
    return acc


def _ref_dot(a, b):
    return _fold([None if x is None or y is None else x * y for x, y in zip(a, b)])


def _ref_l2(a):
    s = _ref_dot(a, a)
    return None if s is None else math.sqrt(s)


def _ref_cosine(a, b):
    d, na, nb = _ref_dot(a, b), _ref_l2(a), _ref_l2(b)
    return None if None in (d, na, nb) else d / (na * nb)


def _bits(x):
    return None if x is None else struct.pack("d", x)


def test_vector_kernels_match_python_fold_bitwise(spark):
    rng = random.Random(20261019)
    rows = []
    for i in range(60):
        n = rng.randint(1, 64)
        a = [_f32(rng.uniform(-3, 3)) for _ in range(n)]
        b = [_f32(rng.gauss(0, 1e3)) for _ in range(n)]
        rows.append((i, a, b))
    rows.append((60, [_f32(0.1), None, _f32(2.5)], [_f32(1.0), _f32(2.0), _f32(3.0)]))
    df = spark.createDataFrame(rows, "id int, a array<float>, b array<float>")
    got = df.alias("p").select(
        "id",
        dot("a", "b").alias("d"),
        l2_norm("p.a").alias("n"),
        cosine("p.a", "b").alias("c"),
    )
    for r in got.collect():
        _, a, b = rows[r["id"]]
        assert _bits(r["d"]) == _bits(_ref_dot(a, b)), r
        assert _bits(r["n"]) == _bits(_ref_l2(a)), r
        assert _bits(r["c"]) == _bits(_ref_cosine(a, b)), r
    assert [r["c"] for r in got.collect() if r["id"] == 60] == [None]


def test_vector_kernels_on_empty_arrays(spark):
    df = spark.createDataFrame([([], [])], "a array<float>, b array<float>")
    r = df.select(dot("a", "b").alias("d"), l2_norm("a").alias("n")).first()
    assert _bits(r["d"]) == _bits(_ref_dot([], [])) == _bits(0.0)
    assert _bits(r["n"]) == _bits(_ref_l2([])) == _bits(0.0)
