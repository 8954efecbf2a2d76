"""The Plate event algebra and its combinators (pure Python, Spark-free).

A ``Plate`` is the consumer side of the columnar event stream (reference
``core/src/main/scala/tectonic/Plate.scala:23-41``): 7 scalar events, 3
nesting events, unnest, row/batch boundaries, and the skipped-bytes metrics
callback. A row is a path-labeled tree linearized as nest*/scalar/unnest*
(e.g. ``{"a":123}`` ⇒ nest_map("a"), num("123",-1,-1), unnest, finish_row).

Events are also reified as plain tuples (first element = tag string) for
golden tests and replay — the Python analog of the reference's
``ReifiedTerminalPlate`` (test/src/main/scala/tectonic/test/
ReifiedTerminalPlate.scala:32-135).
"""

from __future__ import annotations

from typing import Any, Generic, TypeVar

from tectonic_spark.core.signal import Signal, signal_and

A = TypeVar("A")

CONTINUE = Signal.CONTINUE


class Plate(Generic[A]):
    """Base consumer: every event returns a Signal; default CONTINUE.

    Subclasses override what they care about. Method names mirror the
    event algebra (``map``/``arr`` are the EMPTY-object/array scalars —
    emitted only for ``{}``/``[]``).
    """

    # --- scalars -----------------------------------------------------------
    def nul(self) -> Signal:
        return CONTINUE

    def fls(self) -> Signal:
        return CONTINUE

    def tru(self) -> Signal:
        return CONTINUE

    def map(self) -> Signal:  # empty object {}
        return CONTINUE

    def arr(self) -> Signal:  # empty array []
        return CONTINUE

    def num(self, s: str, dec_idx: int, exp_idx: int) -> Signal:
        """Number as unparsed text; dec_idx/exp_idx = index of '.'/'e' or -1
        (lazy numerics — the consumer chooses when/how to materialize)."""
        return CONTINUE

    def str(self, s: str) -> Signal:
        return CONTINUE

    # --- nesting -----------------------------------------------------------
    def nest_map(self, key: str) -> Signal:
        return CONTINUE

    def nest_arr(self) -> Signal:
        return CONTINUE

    def nest_meta(self, key: str) -> Signal:
        return CONTINUE

    def unnest(self) -> Signal:
        return CONTINUE

    # --- boundaries / metrics ---------------------------------------------
    def finish_row(self) -> None:
        return None

    def finish_batch(self, terminal: bool) -> A:
        raise NotImplementedError

    def skipped(self, n_bytes: int) -> None:
        """Metrics callback: ~n_bytes of raw input were skipped due to a
        SKIP signal (byte count approximate, as in the reference)."""
        return None

    def index_plan(self):
        """Optional fast-path capability: return a
        :class:`~tectonic_spark.core.json_parser.IndexPlan` naming the
        top-level columns this plate keeps and tests, or None when it needs
        the events. The JSON parser's structural index then decides whole
        object rows without events and hands every row it cannot prove to
        the event walker. A plate that offers a plan must never answer
        BREAK_BATCH or TERMINATE. None is the base default."""
        return None

    def direct_value_receiver(self):
        """Optional fast-path capability: return a ``callable(value)`` that
        accepts one complete top-level value as a Python object in place of
        its event stream, or None when this plate needs the events.

        A producer MAY (never must) use this to bypass event emission for
        a whole top-level value when it can build the identical value more
        cheaply (e.g. the JSON parser handing a scanned extent to C
        ``json.loads``); ``finish_row``/``finish_batch`` still fire as
        usual. Plates that observe or transform individual events (reified
        golden plates, pushdown plates with live projections/filters,
        multiplexers) must return None, which is the base default."""
        return None


class DelegatingPlate(Plate[A]):
    """Identity wrapper for selective override — the reference's operator
    template (DelegatingPlate.scala:23-66). Projection/filter plates
    subclass this and override only the events they act on."""

    def __init__(self, delegate: Plate[A]):
        self.delegate = delegate

    def nul(self) -> Signal:
        return self.delegate.nul()

    def fls(self) -> Signal:
        return self.delegate.fls()

    def tru(self) -> Signal:
        return self.delegate.tru()

    def map(self) -> Signal:
        return self.delegate.map()

    def arr(self) -> Signal:
        return self.delegate.arr()

    def num(self, s: str, dec_idx: int, exp_idx: int) -> Signal:
        return self.delegate.num(s, dec_idx, exp_idx)

    def str(self, s: str) -> Signal:
        return self.delegate.str(s)

    def nest_map(self, key: str) -> Signal:
        return self.delegate.nest_map(key)

    def nest_arr(self) -> Signal:
        return self.delegate.nest_arr()

    def nest_meta(self, key: str) -> Signal:
        return self.delegate.nest_meta(key)

    def unnest(self) -> Signal:
        return self.delegate.unnest()

    def finish_row(self) -> None:
        self.delegate.finish_row()

    def finish_batch(self, terminal: bool) -> A:
        return self.delegate.finish_batch(terminal)

    def skipped(self, n_bytes: int) -> None:
        self.delegate.skipped(n_bytes)


class MappedPlate(DelegatingPlate[A]):
    """Functor map over the batch result type (``Plate#mapDelegate``,
    Plate.scala:43-64): same event behavior, ``finish_batch`` post-composed
    with ``fn``. Spark analog: ``df.transform``."""

    def __init__(self, delegate: Plate, fn):
        super().__init__(delegate)
        self._fn = fn

    def finish_batch(self, terminal: bool):
        return self._fn(self.delegate.finish_batch(terminal))


def map_delegate(plate: Plate, fn) -> MappedPlate:
    return MappedPlate(plate, fn)


class MultiplexingPlate(Plate[A]):
    """Tee one event stream into main + side consumers; signals merged with
    ``signal_and`` (side evaluated first, result comes from main — matches
    MultiplexingPlate.scala:28-88). Spark analog: ``df.persist()`` feeding
    two plans, or ``observe()`` for side metrics."""

    def __init__(self, main: Plate[A], side: Plate[Any]):
        self.main = main
        self.side = side

    def nul(self) -> Signal:
        return signal_and(self.side.nul(), self.main.nul())

    def fls(self) -> Signal:
        return signal_and(self.side.fls(), self.main.fls())

    def tru(self) -> Signal:
        return signal_and(self.side.tru(), self.main.tru())

    def map(self) -> Signal:
        return signal_and(self.side.map(), self.main.map())

    def arr(self) -> Signal:
        return signal_and(self.side.arr(), self.main.arr())

    def num(self, s: str, dec_idx: int, exp_idx: int) -> Signal:
        return signal_and(
            self.side.num(s, dec_idx, exp_idx), self.main.num(s, dec_idx, exp_idx)
        )

    def str(self, s: str) -> Signal:
        return signal_and(self.side.str(s), self.main.str(s))

    def nest_map(self, key: str) -> Signal:
        return signal_and(self.side.nest_map(key), self.main.nest_map(key))

    def nest_arr(self) -> Signal:
        return signal_and(self.side.nest_arr(), self.main.nest_arr())

    def nest_meta(self, key: str) -> Signal:
        return signal_and(self.side.nest_meta(key), self.main.nest_meta(key))

    def unnest(self) -> Signal:
        return signal_and(self.side.unnest(), self.main.unnest())

    def finish_row(self) -> None:
        self.side.finish_row()
        self.main.finish_row()

    def finish_batch(self, terminal: bool) -> A:
        # only the main channel produces the result; side may side-effect
        self.side.finish_batch(terminal)
        return self.main.finish_batch(terminal)

    def skipped(self, n_bytes: int) -> None:
        self.side.skipped(n_bytes)
        self.main.skipped(n_bytes)


class ReifiedPlate(Plate[list[tuple]]):
    """Materializes events as a list of tuples (golden-output harness).

    ``finish_batch`` returns the events recorded *since the previous batch
    boundary* — callers accumulate per-batch results, mirroring the
    ParseResult monoid accumulation in the reference.
    """

    def __init__(self) -> None:
        self.events: list[tuple] = []

    def _rec(self, ev: tuple) -> Signal:
        self.events.append(ev)
        return CONTINUE

    def nul(self) -> Signal:
        return self._rec(("nul",))

    def fls(self) -> Signal:
        return self._rec(("fls",))

    def tru(self) -> Signal:
        return self._rec(("tru",))

    def map(self) -> Signal:
        return self._rec(("map",))

    def arr(self) -> Signal:
        return self._rec(("arr",))

    def num(self, s: str, dec_idx: int, exp_idx: int) -> Signal:
        return self._rec(("num", s, dec_idx, exp_idx))

    def str(self, s: str) -> Signal:
        return self._rec(("str", s))

    def nest_map(self, key: str) -> Signal:
        return self._rec(("nest_map", key))

    def nest_arr(self) -> Signal:
        return self._rec(("nest_arr",))

    def nest_meta(self, key: str) -> Signal:
        return self._rec(("nest_meta", key))

    def unnest(self) -> Signal:
        return self._rec(("unnest",))

    def finish_row(self) -> None:
        self.events.append(("finish_row",))

    def finish_batch(self, terminal: bool) -> list[tuple]:
        out, self.events = self.events, []
        return out

    def skipped(self, n_bytes: int) -> None:
        self.events.append(("skipped", n_bytes))


class NullPlate(Plate[None]):
    """No-op sink (NullPlate.scala:23-38)."""

    def finish_batch(self, terminal: bool) -> None:
        return None


class RowCountPlate(Plate[int]):
    """Streaming COUNT(*): counts finish_row per batch
    (harness/RowCountHarness.scala:59-92). Spark analog: ``df.count()``."""

    def __init__(self) -> None:
        self.count = 0

    def finish_row(self) -> None:
        self.count += 1

    def finish_batch(self, terminal: bool) -> int:
        out, self.count = self.count, 0
        return out


def replay(events: list[tuple], plate: Plate[A]) -> list[Signal]:
    """Drive a reified event list back into a plate (inverse of
    ReifiedPlate; ≈ ReifiedTerminalPlate.visit / EventCursor.drive).
    Returns the signals produced (finish_row/skipped contribute none)."""
    signals: list[Signal] = []
    for ev in events:
        tag = ev[0]
        if tag == "finish_row":
            plate.finish_row()
        elif tag == "skipped":
            plate.skipped(ev[1])
        elif tag in ("nul", "fls", "tru", "map", "arr", "nest_arr", "unnest"):
            signals.append(getattr(plate, tag)())
        elif tag == "num":
            signals.append(plate.num(ev[1], ev[2], ev[3]))
        elif tag == "str":
            signals.append(plate.str(ev[1]))
        elif tag in ("nest_map", "nest_meta"):
            signals.append(getattr(plate, tag)(ev[1]))
        else:
            raise ValueError(f"unknown event tag {tag!r}")
    return signals
