"""A Plate that rebuilds Python values (dict/list/scalars) from the event
stream — one value per row; ``finish_batch`` yields the rows since the last
batch boundary.

This is the bridge from the columnar event stream back to row-shaped data
(used by the Spark DataSource partition reader and the json.loads parity
tests). Numbers follow the lazy-numeric contract (json/Parser.scala:320-328):
int when no '.'/'e' marker, else float — matching ``json.loads``.
"""

from __future__ import annotations

from typing import Any

from tectonic_spark.core.plate import Plate
from tectonic_spark.core.signal import Signal

_UNSET = object()

CONTINUE = Signal.CONTINUE


class _Slot:
    """One nesting level: the container this slot writes into and the key
    (None = list append). ``filled`` caches a child container created for
    this slot so sibling nests reuse it."""

    __slots__ = ("container", "key", "filled")

    def __init__(self, container: Any, key: str | None):
        self.container = container
        self.key = key
        self.filled: Any = _UNSET


class ValueBuilderPlate(Plate[list]):
    def __init__(self) -> None:
        self._rows: list[Any] = []
        self._root: Any = _UNSET
        self._stack: list[_Slot] = []

    # ------------------------------------------------------------- helpers

    def _write(self, value: Any) -> None:
        if not self._stack:
            self._root = value
            return
        slot = self._stack[-1]
        if slot.key is None:
            slot.container.append(value)
        else:
            slot.container[slot.key] = value

    def _enclosing(self, factory) -> Any:
        """The container the next slot belongs to, creating it (and wiring
        it into its parent slot) on first descent."""
        if not self._stack:
            if self._root is _UNSET:
                self._root = factory()
            return self._root
        slot = self._stack[-1]
        if slot.filled is _UNSET:
            child = factory()
            slot.filled = child
            if slot.key is None:
                slot.container.append(child)
            else:
                slot.container[slot.key] = child
        return slot.filled

    # ------------------------------------------------------------- scalars

    def nul(self) -> Signal:
        self._write(None)
        return CONTINUE

    def fls(self) -> Signal:
        self._write(False)
        return CONTINUE

    def tru(self) -> Signal:
        self._write(True)
        return CONTINUE

    def map(self) -> Signal:
        self._write({})
        return CONTINUE

    def arr(self) -> Signal:
        self._write([])
        return CONTINUE

    def num(self, s: str, dec_idx: int, exp_idx: int) -> Signal:
        self._write(int(s) if dec_idx == -1 and exp_idx == -1 else float(s))
        return CONTINUE

    def str(self, s: str) -> Signal:
        self._write(s)
        return CONTINUE

    # ------------------------------------------------------------- nesting

    def nest_map(self, key: str) -> Signal:
        c = self._enclosing(dict)
        self._stack.append(_Slot(c, key))
        return CONTINUE

    def nest_arr(self) -> Signal:
        c = self._enclosing(list)
        self._stack.append(_Slot(c, None))
        return CONTINUE

    def nest_meta(self, key: str) -> Signal:
        # never emitted by parsers (reserved channel); fold into "_meta"
        c = self._enclosing(dict)
        meta = c.setdefault("_meta", {})
        self._stack.append(_Slot(meta, key))
        return CONTINUE

    def unnest(self) -> Signal:
        self._stack.pop()
        return CONTINUE

    # ----------------------------------------------------------- boundaries

    def finish_row(self) -> None:
        self._rows.append(None if self._root is _UNSET else self._root)
        self._root = _UNSET
        self._stack.clear()

    def abort_row(self) -> None:
        """Discard the in-progress row without appending it (used by the
        pushdown filter plate when a row fails its predicate only at
        finish_row time — e.g. a filter column absent from the row)."""
        self._root = _UNSET
        self._stack.clear()

    def add_rows(self, rows: list) -> None:
        """Append whole rows built elsewhere (the JSON structural index),
        between rows of events."""
        self._rows.extend(rows)

    def finish_batch(self, terminal: bool) -> list:
        out, self._rows = self._rows, []
        return out

    def direct_value_receiver(self):
        """This plate only rebuilds the Python value, so a producer may
        hand it the value directly (finish_row still appends it)."""

        def receive(value: Any) -> None:
            self._root = value

        return receive
