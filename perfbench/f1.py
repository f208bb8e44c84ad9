"""The reference's canonical 8-stage pipeline (pippin_test.go:26-124),
built as tests/test_e2e_canonical.py builds it.

Kept in a module that imports only pyspark: Python workers import the
module that defines a UDF to unpickle it, and a heavy import there is
paid by every new worker.
"""

from pyspark.sql import types as T

ARR = T.ArrayType(T.LongType())


def to_matrix(x):
    if x < 0:
        raise ValueError(f"negative number {x}")
    return [x * i for i in range(x)]


def plus_one(x):
    if x == 0:
        raise ValueError("zero")
    return [x + 1]


def gt42(x):
    if x <= 42:
        raise ValueError("42")
    return [x]


def chain(stage, on_error):
    """parse -> keep odd -> x2 -> matrix -> +1 -> >42 -> flatten."""
    return (
        stage.map_with_error(lambda x: int(x), on_error=on_error, return_type=T.LongType())
        .filter(lambda x: x % 2 != 0)
        .map(lambda x: x * 2)
        .map_with_error_mapper(to_matrix, [42], return_type=ARR)
        .flat_map_with_error(plus_one, on_error=on_error, return_type=ARR)
        .flat_map_with_error_mapper(gt42, [0], return_type=ARR)
        .flat_map(lambda x: x)
    )
