"""Python model of the vector builders of
:mod:`ooh_etl_spark.operators.similarity`: left folds in double
precision from 0.0, one term at a time in array order, with Spark's
NULL rules (a NULL array or element makes the fold NULL, and
``zip_with`` pads the shorter array with NULL)."""

from __future__ import annotations

import math


def _fold(terms):
    if terms is None or None in terms:
        return None
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def _zip_terms(a, b, f):
    if a is None or b is None:
        return None
    n = max(len(a), len(b))
    a, b = [*a, *[None] * (n - len(a))], [*b, *[None] * (n - len(b))]
    return [None if x is None or y is None else f(x, y) for x, y in zip(a, b)]


def dot(a, b):
    return _fold(_zip_terms(a, b, lambda x, y: x * y))


def sq_dist(a, b):
    return _fold(_zip_terms(a, b, lambda x, y: (x - y) * (x - y)))


def l2_norm(a):
    s = _fold(None if a is None else [None if x is None else x * x for x in a])
    return None if s is None else math.sqrt(s)


def cosine(a, b):
    d, na, nb = dot(a, b), l2_norm(a), l2_norm(b)
    return None if None in (d, na, nb) else d / (na * nb)
