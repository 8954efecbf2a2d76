"""Catalyst pushdown → parser byte-skips (SURVEY.md §7.6).

``PushdownPlate`` is the bridge between Spark's scan contract and the L1
parser's Signal protocol (the reference's ProjectionPlate pattern,
benchmarks/json/SkipBenchmarks.scala:87-123, generalized):

* **Projection pushdown** (SkipColumn parity, json/Parser.scala:764-773):
  a top-level ``nest_map(key)`` outside the required-column set returns
  SKIP_COLUMN — the parser byte-skips the value without emitting events.
* **Filter pushdown** (SkipRow — declared in the reference, Signal.scala:26,
  but acted on by no backend there; we implement it): Catalyst ``Filter``
  objects compile to per-column tests. The moment a captured top-level value
  definitively fails its test, the plate returns SKIP_ROW and the parser
  byte-skips the rest of the row (still emitting finish_row).

Skipping is **conservative-correct**: a row is skipped only when it would
definitely fail the Catalyst predicate re-applied above the scan (the
DataSource reports every filter as unhandled, so Spark re-checks whatever
survives — skips are a pure I/O/parse saving, never a semantics change).
A test that cannot decide (type mismatch vs the schema, container value,
unsupported filter shape) keeps the row.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql.types import (
    BooleanType,
    DataType,
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructType,
)

from tectonic_spark.core.json_parser import IndexPlan
from tectonic_spark.core.plate import Plate
from tectonic_spark.core.signal import Signal
from tectonic_spark.core.value_builder import ValueBuilderPlate

CONTINUE = Signal.CONTINUE

# A test maps the captured raw value (None/bool/int/float/str, or the
# sentinel CONTAINER for nested values) to True=may-pass / False=fails.
_CONTAINER = object()

Test = Callable[[Any], bool]


_UNDECIDED = object()

_I64_MIN = -(2**63)
_I64_MAX = 2**63 - 1


def _norm_scalar(v: Any, t: DataType) -> Any:
    """What ``v`` becomes after normalization into a cell of type ``t`` —
    mirrors :func:`schema_infer._coerce` for captured top-level scalars.
    Returns ``_UNDECIDED`` when the normalized value can't be known here
    (container into a string column normalizes to JSON text we never
    materialized; non-scalar column types are not captured at all)."""
    if v is _CONTAINER:
        # containers normalize to canonical JSON under StringType (unknown
        # here) and survive as-is under Array/Struct types → undecidable
        return _UNDECIDED
    if v is None:
        return None
    if isinstance(t, StringType):
        if isinstance(v, str):
            return v
        from tectonic_spark.sources.schema_infer import canonical_json

        return canonical_json(v)
    if isinstance(t, BooleanType):
        return v if isinstance(v, bool) else None
    if isinstance(t, LongType):
        # mirror _coerce exactly: out-of-int64-range ints normalize to null
        if isinstance(v, int) and not isinstance(v, bool) and _I64_MIN <= v <= _I64_MAX:
            return v
        return None
    if isinstance(t, DecimalType):
        return v if isinstance(v, int) and not isinstance(v, bool) else None
    if isinstance(t, DoubleType):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v)
        return None
    return _UNDECIDED


def compile_filters(filters: list, schema: StructType) -> dict[str, list[Test]] | None:
    """Compile supported Catalyst Filters into per-column conjunct tests.

    Each test receives the captured raw value (or None for an absent
    column) and answers "might this row satisfy the filter?" under SQL
    three-valued logic on the *normalized* cell: a comparison with a null
    cell is unknown ⇒ the row is definitively dropped by the re-applied
    Spark filter, so the parser may skip it. Unsupported filter shapes are
    ignored (they stay Spark-side). Returns None when nothing is actionable.
    """
    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    by_name = {f.name: f.dataType for f in schema.fields}
    out: dict[str, list[Test]] = {}

    def add(path: tuple, mk: Callable[[DataType], Test]) -> None:
        if len(path) != 1 or path[0] not in by_name:
            return  # nested attribute — leave to Spark
        out.setdefault(path[0], []).append(mk(by_name[path[0]]))

    def cmp_test(rhs: Any, op: Callable[[Any, Any], bool]) -> Callable[[DataType], Test]:
        def mk(t: DataType) -> Test:
            def test(v: Any) -> bool:
                x = _norm_scalar(v, t)
                if x is _UNDECIDED:
                    return True
                if x is None:
                    return False  # NULL cmp anything = unknown → Spark drops
                try:
                    return bool(op(x, rhs))
                except (TypeError, AttributeError):
                    # cross-type comparison (or a string op on a non-string
                    # cell, e.g. startswith against a boolean column) is
                    # undecidable here — keep the row, Spark decides
                    return True

            return test

        return mk

    def null_test(want_null: bool) -> Callable[[DataType], Test]:
        def mk(t: DataType) -> Test:
            def test(v: Any) -> bool:
                x = _norm_scalar(v, t)
                if x is _UNDECIDED:
                    return True
                return (x is None) == want_null

            return test

        return mk

    def ens_test(rhs: Any) -> Callable[[DataType], Test]:
        def mk(t: DataType) -> Test:
            def test(v: Any) -> bool:
                x = _norm_scalar(v, t)
                if x is _UNDECIDED:
                    return True
                if rhs is None or x is None:
                    return (x is None) == (rhs is None)
                try:
                    return bool(x == rhs)
                except (TypeError, AttributeError):
                    return True

            return test

        return mk

    for f in filters:
        if isinstance(f, EqualTo):
            add(f.attribute, cmp_test(f.value, lambda a, b: a == b))
        elif isinstance(f, EqualNullSafe):
            add(f.attribute, ens_test(f.value))
        elif isinstance(f, GreaterThan):
            add(f.attribute, cmp_test(f.value, lambda a, b: a > b))
        elif isinstance(f, GreaterThanOrEqual):
            add(f.attribute, cmp_test(f.value, lambda a, b: a >= b))
        elif isinstance(f, LessThan):
            add(f.attribute, cmp_test(f.value, lambda a, b: a < b))
        elif isinstance(f, LessThanOrEqual):
            add(f.attribute, cmp_test(f.value, lambda a, b: a <= b))
        elif isinstance(f, In):
            try:
                values = set(f.value)
            except TypeError:  # unhashable literals (arrays, maps) stay Spark-side
                continue
            add(f.attribute, cmp_test(values, lambda a, b: a in b))
        elif isinstance(f, IsNotNull):
            add(f.attribute, null_test(False))
        elif isinstance(f, IsNull):
            add(f.attribute, null_test(True))
        elif isinstance(f, StringStartsWith):
            add(f.attribute, cmp_test(f.value, lambda a, b: a.startswith(b)))
        elif isinstance(f, StringEndsWith):
            add(f.attribute, cmp_test(f.value, lambda a, b: a.endswith(b)))
        elif isinstance(f, StringContains):
            add(f.attribute, cmp_test(f.value, lambda a, b: b in a))
    return out or None


def build_path_trie(
    paths: set[tuple[str, ...]] | None,
    force_all: set[str] | None = None,
) -> dict | None:
    """Build a projection trie from required key *paths*.

    Node = dict of key → child; a ``None`` child means "take the whole
    subtree". Union semantics: a whole-subtree requirement absorbs any
    deeper refinement of the same key (order-independent). ``force_all``
    keys (filter columns — their values must be observable by the pushed
    tests) are whole-subtree at top level."""
    if paths is None:
        return None
    root: dict = {}
    for p in paths:
        node = root
        for i, k in enumerate(p):
            if i == len(p) - 1:
                node[k] = None  # take-all below the leaf
            else:
                if k in node and node[k] is None:
                    break  # already whole-subtree
                node = node.setdefault(k, {})
    for c in force_all or ():
        root[c] = None
    return root


class PushdownPlate(Plate[list]):
    """Wraps a ValueBuilderPlate with projection + filter pushdown.

    ``required``: top-level columns to materialize (None = all). Filter
    columns are force-included so tests can observe them.
    ``required_paths``: nested key paths (e.g. ``{("meta", "lang")}``) —
    when given, they define the projection as a trie and unneeded subtrees
    are byte-skipped at ANY depth (the parser honors SKIP_COLUMN below top
    level; reference semantics json/Parser.scala:764-794 — its demo plate
    is top-level-only). Arrays are transparent to paths (a path applies to
    each struct element).
    ``tests``: {column: [conjunct tests]} from :func:`compile_filters`.
    When a filter column's top-level scalar fails a test, that scalar
    event answers SKIP_ROW: the parser emits no further events for the
    row but one ``skipped(n)`` covering its remaining bytes, then
    finish_row, which discards the row. A filter column that is absent
    (null cell ⇒ the conjunct fails unless the test passes None) or holds
    a container is decided only at finish_row, after the whole row.
    """

    def __init__(
        self,
        required: set[str] | None = None,
        tests: dict[str, list[Test]] | None = None,
        value_col: str | None = None,
        required_paths: set[tuple[str, ...]] | None = None,
    ) -> None:
        self.builder = ValueBuilderPlate()
        self.tests = tests or {}
        # single-value-column scans: top-level *scalar* rows never fire
        # nest_map, so the value itself is the cell — capture it here or
        # finish_row would treat the column as absent and over-drop
        self.value_col = value_col if self.tests else None
        self._trie = build_path_trie(required_paths, set(self.tests))
        if self._trie is not None:
            required = set(self._trie)
        elif required is not None:
            required = required | set(self.tests)
        self.required = required
        # stack of trie nodes tracking the current nesting (None=take-all);
        # arrays push the same node so paths see through them
        self._node_stack: list = []
        self._depth = 0
        self._swallow_unnest = 0
        self._capture_col: str | None = None
        self._seen_cols: set[str] = set()
        self._row_skipped = False
        self.rows_skipped_total = 0
        # early row exit (projection-only): once every required column has
        # been seen, the Rest of the row is skipped in ONE rskip scan
        # instead of per-column skips. Unsound with filters pending (a test
        # column might still arrive), so only armed when tests is empty.
        self._early_exit = required is not None and not self.tests
        self._req_n = len(required) if required is not None else 0
        self._req_seen: set[str] = set()

    # ---------------------------------------------------------------- tests

    def _fails(self, col: str, value: Any) -> bool:
        return any(not t(value) for t in self.tests.get(col, ()))

    def _value_row(self, v: Any, sig: Signal) -> Signal:
        """A top-level value arrived on a value-column scan: it IS the
        'value' cell. Containers pass _CONTAINER (undecidable → kept)."""
        self._seen_cols.add(self.value_col)
        if not self._row_skipped and self._fails(self.value_col, v):
            self._row_skipped = True
            self.rows_skipped_total += 1
        return sig

    def _capture(self, value: Any) -> Signal:
        """A scalar arrived directly under a captured filter column."""
        col, self._capture_col = self._capture_col, None
        self._seen_cols.add(col)
        if self._fails(col, value):
            self._row_skipped = True
            self.rows_skipped_total += 1
            return Signal.SKIP_ROW
        return CONTINUE

    # --------------------------------------------------------------- events

    def nul(self) -> Signal:
        s = self.builder.nul()
        if self._capture_col is not None and self._depth == 1:
            return self._capture(None)
        if self.value_col is not None and self._depth == 0:
            return self._value_row(None, s)
        return s

    def fls(self) -> Signal:
        s = self.builder.fls()
        if self._capture_col is not None and self._depth == 1:
            return self._capture(False)
        if self.value_col is not None and self._depth == 0:
            return self._value_row(False, s)
        return s

    def tru(self) -> Signal:
        s = self.builder.tru()
        if self._capture_col is not None and self._depth == 1:
            return self._capture(True)
        if self.value_col is not None and self._depth == 0:
            return self._value_row(True, s)
        return s

    def map(self) -> Signal:
        s = self.builder.map()
        if self._capture_col is not None and self._depth == 1:
            return self._capture(_CONTAINER)
        if self.value_col is not None and self._depth == 0:
            return self._value_row(_CONTAINER, s)
        return s

    def arr(self) -> Signal:
        s = self.builder.arr()
        if self._capture_col is not None and self._depth == 1:
            return self._capture(_CONTAINER)
        if self.value_col is not None and self._depth == 0:
            return self._value_row(_CONTAINER, s)
        return s

    def num(self, s: str, dec_idx: int, exp_idx: int) -> Signal:
        sig = self.builder.num(s, dec_idx, exp_idx)
        if self._capture_col is not None and self._depth == 1:
            v = int(s) if dec_idx == -1 and exp_idx == -1 else float(s)
            return self._capture(v)
        if self.value_col is not None and self._depth == 0:
            v = int(s) if dec_idx == -1 and exp_idx == -1 else float(s)
            return self._value_row(v, sig)
        return sig

    def str(self, s: str) -> Signal:
        sig = self.builder.str(s)
        if self._capture_col is not None and self._depth == 1:
            return self._capture(s)
        if self.value_col is not None and self._depth == 0:
            return self._value_row(s, sig)
        return sig

    def nest_map(self, key: str) -> Signal:
        if self._depth == 0:
            if self.value_col is not None:
                # object row on a value-column scan: the whole object is the
                # cell — undecidable for any test, so mark seen and keep
                self._seen_cols.add(self.value_col)
            if self.required is not None and key not in self.required:
                if self._early_exit and len(self._req_seen) == self._req_n:
                    # all required columns in hand: skip to end of row
                    # (finish_row still fires; the row is KEPT)
                    return Signal.SKIP_ROW
                self._swallow_unnest += 1
                return Signal.SKIP_COLUMN
            if self._early_exit:
                self._req_seen.add(key)
            if key in self.tests:
                self._capture_col = key
            self._node_stack.append(
                self._trie[key] if self._trie is not None else None
            )
        else:
            node = self._node_stack[-1] if self._node_stack else None
            if node is not None and key not in node:
                # unneeded subtree below top level: byte-skip it (the
                # parser emits skipped(n) + a balancing unnest we swallow)
                self._swallow_unnest += 1
                return Signal.SKIP_COLUMN
            if self._capture_col is not None and self._depth == 1:
                # captured column holds a container → undecidable, stop
                # capturing
                self._seen_cols.add(self._capture_col)
                self._capture_col = None
            self._node_stack.append(node[key] if node is not None else None)
        self._depth += 1
        return self.builder.nest_map(key)

    def nest_arr(self) -> Signal:
        if self._capture_col is not None and self._depth == 1:
            self._seen_cols.add(self._capture_col)
            self._capture_col = None
        if self.value_col is not None and self._depth == 0:
            self._seen_cols.add(self.value_col)
        # arrays are transparent to projection paths: each element filters
        # through the same trie node
        self._node_stack.append(self._node_stack[-1] if self._node_stack else None)
        self._depth += 1
        return self.builder.nest_arr()

    def nest_meta(self, key: str) -> Signal:
        self._node_stack.append(None)
        self._depth += 1
        return self.builder.nest_meta(key)

    def unnest(self) -> Signal:
        if self._swallow_unnest:
            self._swallow_unnest -= 1
            return CONTINUE
        self._depth -= 1
        if self._node_stack:
            self._node_stack.pop()
        if self._depth == 1 and self._capture_col is not None:
            self._capture_col = None
        return self.builder.unnest()

    def finish_row(self) -> None:
        self._depth = 0
        self._swallow_unnest = 0
        self._capture_col = None
        self._node_stack = []
        dropped = self._row_skipped
        if not dropped and self.tests:
            # columns never seen in this row are null cells; IS NOT NULL /
            # comparisons on them definitively fail
            for col in self.tests:
                if col not in self._seen_cols and self._fails(col, None):
                    dropped = True
                    self.rows_skipped_total += 1
                    break
        self._seen_cols = set()
        self._row_skipped = False
        self._req_seen = set()
        if dropped:
            self.builder.abort_row()
        else:
            self.builder.finish_row()

    def finish_batch(self, terminal: bool) -> list:
        return self.builder.finish_batch(terminal)

    def skipped(self, n_bytes: int) -> None:
        self.builder.skipped(n_bytes)

    def _count_dropped(self, n: int) -> None:
        self.rows_skipped_total += n

    def index_plan(self) -> IndexPlan | None:
        """Object rows of a projection or filter scan may be decided by the
        JSON parser's structural index: it keeps the flat required columns
        and drops the rows a test fails, exactly as these events would.
        Required keys with a nested projection are left to the walker.
        Value-column scans and pure pass-through get no plan."""
        if self.value_col is not None or (self.required is None and not self.tests):
            return None
        trie = self._trie or {}
        return IndexPlan(
            required=self.required,
            walk=frozenset(k for k, node in trie.items() if node is not None),
            tests=self.tests,
            early_exit=self._early_exit,
            keep=self.builder.add_rows,
            drop=self._count_dropped,
        )

    def direct_value_receiver(self):
        """Pure pass-through (no projection, no filters) degenerates to the
        wrapped builder — the producer may deliver whole values directly.
        With any pushdown live, events are required (skips/tests observe
        them), so the capability is withheld."""
        if self.required is None and not self.tests and self._trie is None:
            return self.builder.direct_value_receiver()
        return None
