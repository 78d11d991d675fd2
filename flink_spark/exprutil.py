"""Single-node double-array literals for large constant operands.

Plans that inline big constant arrays (PQ codebooks, k-means centroids,
LSH hyperplanes) pay plan-ANALYSIS cost proportional to the expression
tree size, and a Dataset chain re-analyzes the whole tree at every
downstream operator (and foreachBatch operators re-plan every
micro-batch). The obvious spellings all leave O(elements) nodes in the
analyzed tree:

  - ``CAST('0.1' AS DOUBLE)`` per element (pre-r13s3): ~212 ms per
    analysis at 8×64 doubles on the bench box;
  - ``F.lit(nested_list)``: PySpark desugars a list to
    ``array(*[lit(x) …])`` — one py4j ROUND TRIP per element (~1.8 s
    construction for 1024 elements under gVisor) and the same
    O(elements) CreateArray tree;
  - a ``0.1D``-suffix ``F.expr`` string: one round trip and ~2× fewer
    nodes, but still O(elements) per analysis.

:func:`double_array_lit` instead materializes the value as ONE Catalyst
``Literal`` node: build the ``D``-suffix SQL text (``repr`` round-trips
every IEEE double exactly, and the double-literal parse is
correctly-rounded — verified bitwise including ±0.0/denormals), let one
tiny ``spark.sql`` statement parse+fold it, and lift the folded
``Literal`` out of the optimized plan into a Column. Analysis of plans
embedding it no longer walks per-element nodes (~41 ms for the same
ranking tree), construction is one round trip (~0.1-0.2 s, memoized on
content), and EXECUTION is identical — the optimizer constant-folded
the old trees to exactly this Literal anyway.

Only the literal's representation changes, never its value: the same
doubles, in the same array structure, compared bitwise in
tests/test_construction_equiv.py. (One representational nuance: the old
``CAST('-0.0' AS DOUBLE)`` normalized to +0.0 while a ``-0.0D`` literal
preserves the sign. Every shipped consumer folds these operands through
squared differences, products-into-sums or equality-on-results, where
±0.0 are indistinguishable; trained codebooks/centroids are checked to
carry no -0.0 on the test corpus.)
"""

from __future__ import annotations

import math
import threading
from collections import OrderedDict

from py4j.protocol import Py4JError
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

#: The engine's one memo of batch-independent plan pieces: expression
#: Columns (literals, minhash/sketch/Gopher trees) and inferred read
#: schemas, plus, in the Python-worker daemon, zip archive directories
#: (pydaemon). Metadata only, never row data. foreachBatch rebuilds every
#: micro-batch's plan from scratch, and each functions.* call is a py4j
#: round trip, so rebuilding these per batch is pure driver cost. An LRU
#: of 256 entries: a full bench pass holds ~60 live keys, and what it
#: evicts are schemas of deleted tmp store roots.
_MEMO_CAP = 256
_MEMO: OrderedDict = OrderedDict()
_MEMO_LOCK = threading.Lock()


def memo(key, build):
    """The value memoized under ``key``, calling ``build()`` on a miss.
    Keys lead with a tag naming their call site (``("lit", sql)``).
    ``build`` runs outside the lock (store reads call this from
    ``run_parallel`` threads); two threads that miss together both
    build, and the later value wins."""
    with _MEMO_LOCK:
        if key in _MEMO:
            _MEMO.move_to_end(key)
            return _MEMO[key]
    val = build()
    with _MEMO_LOCK:
        _MEMO[key] = val
        _MEMO.move_to_end(key)
        if len(_MEMO) > _MEMO_CAP:
            _MEMO.popitem(last=False)
    return val


def _d_suffix_sql(value) -> str:
    """``value`` (arbitrarily nested lists of floats) as a SQL array
    literal with ``D``-suffixed elements. Raises ``ValueError`` on a NaN
    or infinite element: SQL has no double literal for them."""
    if isinstance(value, (list, tuple)):
        return "array(" + ",".join(_d_suffix_sql(x) for x in value) + ")"
    x = float(value)
    if not math.isfinite(x):
        raise ValueError(f"non-finite double {x!r} has no SQL literal")
    return f"{x!r}D"


def double_array_lit(spark: SparkSession, value) -> Column:
    """``value`` (nested lists of doubles) as a single-``Literal``-node
    Column, memoized on content. Falls back to the plain parsed-string
    form (same values, O(elements) tree) if the classic-mode internals
    ever move."""
    sql = _d_suffix_sql(value)
    return memo(("lit", sql), lambda: _literal_column(spark, sql))


def _literal_column(spark: SparkSession, sql: str) -> Column:
    try:
        alias = (
            spark.sql("SELECT " + sql + " AS v")
            ._jdf.queryExecution().optimizedPlan().expressions().apply(0)
        )
        lit = alias.child()  # ConstantFolding left Alias(Literal, "v")
        if not lit.getClass().getSimpleName() == "Literal":
            raise ValueError("constant folding did not yield a Literal")
        return Column(
            spark._jvm.org.apache.spark.sql.classic.ExpressionUtils.column(lit)
        )
    except (Py4JError, AttributeError, TypeError, ValueError):
        # version drift: a moved internal (AttributeError/Py4JError, or a
        # TypeError calling a JVM class that no longer exists) or a plan
        # the optimizer did not fold to one Literal (ValueError above)
        return F.expr(sql)
