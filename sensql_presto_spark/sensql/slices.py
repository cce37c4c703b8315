"""One scan for the SenSQL nodes that slice one source.

A node's resolved relation is a *slice* when its analyzed plan, with
constants folded, is ``Project(list, Filter(cond, source))``. Nodes fall
in one group when their sources are ``sameResult``, their conditions
differ in exactly one conjunct, ``k = literal`` with the same ``k`` and a
distinct non-null literal per node, and every output column is the same
expression in every node or a literal in every node. Expressions are
compared with each attribute replaced by its ordinal in the source output
(``QueryPlan.normalizeExpressions``), so names and expression ids do not
matter. The analyzed plan is read rather than the optimized one because
optimizing each node's plan on its own costs several ms per node; folding
constants turns the coerced ``cast(3 as bigint)`` of ``k = 3`` into a
literal, and the optimizer still sees the whole statement.

A group of two or more nodes reads its source once: the condition with
``InSet(k, {values})`` in place of the key conjunct, and each literal
column as ``CASE k WHEN v_1 THEN lit_1 … ELSE lit_n END`` (the ELSE keeps
it non-nullable, as in the union). The slices are disjoint, so the one
scan returns the union's bag of rows; their order is not defined.
``InSet`` rather than ``In`` because its generated code holds the value
set by reference, so a group over another set of values of a bigint key
reuses the code compiled for the last one. Int, short, byte and date keys
still inline their values through Spark's switch codegen, so a new set of
them compiles new code.
"""

from __future__ import annotations

import functools
import threading
from functools import reduce
from types import SimpleNamespace
from typing import NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame

# Key types under which distinct literals select disjoint rows. Not float
# or double (``v = 0.0`` and ``v = -0.0`` match the same rows) and not a
# collated string (under UTF8_LCASE ``'a'`` and ``'A'`` do).
_EXACT_KEY_TYPES = frozenset({"byte", "short", "integer", "long", "date", "boolean", "string"})


@functools.lru_cache(maxsize=1)
def _kinds(jvm) -> SimpleNamespace:
    """The JVM classes a slice is read and a group is built with, looked up
    once: a ``jvm.org.apache…`` chain costs a py4j call per name."""
    expressions = jvm.org.apache.spark.sql.catalyst.expressions
    logical = jvm.org.apache.spark.sql.catalyst.plans.logical

    def cls(name: str):
        return jvm.java.lang.Class.forName("org.apache.spark.sql." + name)

    return SimpleNamespace(
        project=cls("catalyst.plans.logical.Project"),
        filter=cls("catalyst.plans.logical.Filter"),
        and_=cls("catalyst.expressions.And"),
        equal_to=cls("catalyst.expressions.EqualTo"),
        literal=cls("catalyst.expressions.Literal"),
        alias=cls("catalyst.expressions.Alias"),
        fold=jvm.org.apache.spark.sql.catalyst.optimizer.ConstantFolding.apply,
        attribute_seq=getattr(expressions, "package$AttributeSeq"),
        normalize=jvm.org.apache.spark.sql.catalyst.plans.QueryPlan.normalizeExpressions,
        seq=jvm.org.apache.spark.api.python.PythonUtils.toSeq,
        CreateArray=expressions.CreateArray,
        InSet=expressions.InSet,
        And=expressions.And,
        case_key_when=expressions.CaseKeyWhen.apply,
        Filter=logical.Filter,
        Project=logical.Project,
        of_rows=jvm.org.apache.spark.sql.classic.Dataset.ofRows,
    )


class Key(NamedTuple):
    """A conjunct ``k = literal`` whose key type has exact equality."""

    k: object  # the key expression as the plan holds it
    norm: object  # k normalized to source ordinals
    literal: object
    hash: int  # literal.hashCode(), equal for equal literals


class Conjunct(NamedTuple):
    raw: object
    norm: object
    hash: int
    key: Key | None


class Column(NamedTuple):
    item: object  # the project list item
    literal: object | None  # its value when it is a literal
    norm: object | None  # else its expression normalized to source ordinals
    sig: tuple  # ("literal", type JSON) or ("expression", hash of norm)


class Slice(NamedTuple):
    source: object
    conjuncts: list[Conjunct]
    columns: list[Column]


def slice_of(analyzed) -> Slice | None:
    """The slice an analyzed plan reads, or None when it is not
    ``Project(Filter(source))``."""
    kinds = _kinds(SparkContext._jvm)
    plan = _fold(kinds, analyzed)
    if plan is None or not kinds.project.isInstance(plan):
        return None
    filt = plan.child()
    if not kinds.filter.isInstance(filt):
        return None
    source = filt.child()
    ordinals = kinds.attribute_seq(source.output())

    def normalized(e) -> tuple:
        norm = kinds.normalize(e, ordinals)
        return norm, norm.hashCode()

    conjuncts = [
        Conjunct(c, *normalized(c), _key(kinds, c, normalized))
        for c in _split_conjuncts(kinds, filt.condition())
    ]
    columns = []
    items = plan.projectList()
    for i in range(items.size()):
        item = items.apply(i)
        e = item.child() if kinds.alias.isInstance(item) else item
        if kinds.literal.isInstance(e):
            columns.append(Column(item, e, None, ("literal", e.dataType().json())))
        else:
            norm, h = normalized(e)
            columns.append(Column(item, None, norm, ("expression", h)))
    return Slice(source, conjuncts, columns)


@functools.cache
def _query_context_loggers() -> tuple:
    return tuple(PySparkLogger.getLogger(n) for n in ("DataFrameQueryContextLogger", "SQLQueryContextLogger"))


def _fold(kinds, analyzed):
    """``analyzed`` with its constants folded, or None when one fails to
    evaluate: the statement raises that error when it runs. PySpark logs
    every JVM error it converts at ERROR with its query context; this one is
    expected and handled, so this thread's records are dropped meanwhile."""
    thread = threading.get_ident()

    def other_threads(record) -> bool:
        return record.thread != thread

    loggers = _query_context_loggers()
    for logger in loggers:
        logger.addFilter(other_threads)
    try:
        return kinds.fold(analyzed)
    except (CapturedException, Py4JJavaError):
        return None
    finally:
        for logger in loggers:
            logger.removeFilter(other_threads)


def _split_conjuncts(kinds, cond) -> list:
    if kinds.and_.isInstance(cond):
        return _split_conjuncts(kinds, cond.left()) + _split_conjuncts(kinds, cond.right())
    return [cond]


def _key(kinds, c, normalized) -> Key | None:
    """``c`` as a key conjunct: an expression equal to a non-null literal,
    both of a type in ``_EXACT_KEY_TYPES`` or a decimal. The plan is
    deterministic (only kept nodes have slices), so ``k`` is too."""
    if not kinds.equal_to.isInstance(c):
        return None
    left, right = c.left(), c.right()
    left_literal = kinds.literal.isInstance(left)
    if left_literal == kinds.literal.isInstance(right):
        return None
    k, v = (right, left) if left_literal else (left, right)
    if v.nullable():
        return None
    for e in (k, v):
        name = e.dataType().typeName()
        if name not in _EXACT_KEY_TYPES and not name.startswith("decimal("):
            return None
    return Key(k, normalized(k)[0], v, v.hashCode())


def _key_position(rep: Slice, s: Slice) -> int | None:
    """The position of the one conjunct in which ``s`` differs from ``rep``,
    when both are key conjuncts on the same ``k``, the sources give the same
    result and every output column matches; else None. Hashes rule pairs
    out in Python; the JVM confirms what they let through."""
    if len(rep.conjuncts) != len(s.conjuncts):
        return None
    if [c.sig for c in rep.columns] != [c.sig for c in s.columns]:
        return None
    differ = [i for i, (a, b) in enumerate(zip(rep.conjuncts, s.conjuncts)) if a.hash != b.hash]
    if len(differ) != 1:
        return None
    (j,) = differ
    a, b = rep.conjuncts[j].key, s.conjuncts[j].key
    if a is None or b is None:
        return None
    same = [(a.norm, b.norm)]
    same += [(x.norm, y.norm) for i, (x, y) in enumerate(zip(rep.conjuncts, s.conjuncts)) if i != j]
    same += [(x.norm, y.norm) for x, y in zip(rep.columns, s.columns) if x.norm is not None]
    if rep.source.sameResult(s.source) and all(x.equals(y) for x, y in same):
        return j
    return None


class Group:
    """Nodes read by one scan. Each node has ``df`` and ``slice`` (None for
    a node without one); the first is the group's representative, and the
    second member fixes the key conjunct's position."""

    def __init__(self, node) -> None:
        self.nodes = [node]
        self.key_at: int | None = None  # the key conjunct's position

    def admit(self, node) -> bool:
        """Add ``node`` when it fits the group and its key value is new."""
        rep, s = self.nodes[0].slice, node.slice
        if rep is None or s is None:
            return False
        j = _key_position(rep, s)
        if j is None or self.key_at not in (None, j):
            return False
        new = s.conjuncts[j].key
        for m in self.nodes:
            old = m.slice.conjuncts[j].key
            if old.hash == new.hash and old.literal.equals(new.literal):
                return False
        self.nodes.append(node)
        self.key_at = j
        return True

    def relation(self) -> DataFrame:
        """The lone node's DataFrame, or one read of the shared source."""
        first = self.nodes[0].df
        if len(self.nodes) == 1:
            return first
        kinds = _kinds(SparkContext._jvm)
        slices = [n.slice for n in self.nodes]
        rep, j = slices[0], self.key_at
        k = rep.conjuncts[j].key.k
        values = [s.conjuncts[j].key.literal for s in slices]
        conds = [c.raw for c in rep.conjuncts]
        conds[j] = kinds.InSet(k, _value_set(kinds, values, k.dataType()))
        items = []
        for i, col in enumerate(rep.columns):
            if col.literal is None:
                items.append(col.item)
                continue
            cases = [x for s, v in zip(slices, values) for x in (v, s.columns[i].literal)]
            del cases[-2]  # the last literal is the ELSE
            case = kinds.case_key_when(k, kinds.seq(cases))
            items.append(col.item.withNewChildren(kinds.seq([case])))
        plan = kinds.Project(kinds.seq(items), kinds.Filter(reduce(kinds.And, conds), rep.source))
        session = first.sparkSession
        return DataFrame(kinds.of_rows(session._jsparkSession, plan), session)


def _value_set(kinds, literals: list, data_type):
    """The literals' values as the Scala set ``InSet`` holds, made on the
    JVM: a Python int that crosses py4j comes back as an Integer, which
    never equals a Long key value."""
    values = kinds.CreateArray(kinds.seq(literals), False).eval(None)
    return values.toSeq(data_type).toSet()


def groups(nodes: list) -> list[Group]:
    """``nodes`` in groups, each node in the first group that admits it.
    A node's slice is read only when there is a group to try it on."""
    out: list[Group] = []
    for node in nodes:
        if not any(g.admit(node) for g in out):
            out.append(Group(node))
    return out
