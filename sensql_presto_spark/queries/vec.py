"""Vector kernels as Spark SQL fragments: the one definition of each.

Builders splice them into their SQL. They are templates, not SQL temp
functions, because builders also run in sessions where nothing is
registered. Arguments are array-typed SQL expressions; ``acc`` is the
accumulator type and the exactness contract: ``"bigint"`` sums are exact
(quantized vectors match the oracle bit-for-bit), ``"double"`` sums run left
to right in array order, so double results are rounded before comparison.
A fragment inside an outer lambda that binds ``x``, ``y`` or ``acc`` shadows
it; its array arguments still resolve in the outer scope.

Four sites in ``pipeline.py`` keep their own spelling because the element
body is not a plain product or difference: ``sim_int8_quantized``'s int8
dot and norm (``cast(x AS double) * y``) and the two hash-weight projections
of ``_NND_CORPUS_SQL``.
"""


def _sum(array: str, term: str, acc: str) -> str:
    return f"aggregate({array}, cast(0 AS {acc}), (acc, x) -> acc + {term})"


def dot(a: str, b: str, acc: str) -> str:
    """Dot product of arrays ``a`` and ``b``."""
    return _sum(f"zip_with({a}, {b}, (x, y) -> x * y)", "x", acc)


def sq_dist(a: str, b: str, acc: str) -> str:
    """Squared Euclidean distance between arrays ``a`` and ``b``."""
    return _sum(f"zip_with({a}, {b}, (x, y) -> (x - y) * (x - y))", "x", acc)


def norm2(v: str, acc: str) -> str:
    """Squared L2 norm of array ``v``."""
    return _sum(v, "x * x", acc)
