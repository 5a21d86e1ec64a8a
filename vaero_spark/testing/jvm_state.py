"""Drive the Java CEP keyed-state core (``vaero.state.Reassembly``) one
call at a time through Spark's ``TestGroupState``, without a streaming
query: what the unit tests of the streaming CEP operators run.

A call takes rows ``(turn_idx, sym, us)``, the columns the operators
project in SQL (role mapped to its symbol, event time in µs; ``None`` for
a null), and returns the emitted rows as ``Row``s of the output schema. :class:`KeyState` holds
one key's state between calls, as the state store does.
"""

from __future__ import annotations

import json

from pyspark.sql import Row
from pyspark.sql import types as T


class KeyState:
    """One key's state between calls: ``exists``, ``get`` (the stored row
    as a tuple, ``bytes`` for ``binary`` fields; ``None`` when absent),
    ``armed`` (the timeout the last call set, ms; ``None``: not armed).
    Set ``hasTimedOut`` to make the next call a timeout call."""

    hasTimedOut = False

    def __init__(self):
        self._row = None  # the stored Java Row
        self._group = None  # the last call's TestGroupState

    def copy(self) -> "KeyState":
        """A state holding the same stored row (a call never changes a
        stored row; it stores a new one), not yet called."""
        state = KeyState()
        state._row = self._row
        return state

    @property
    def exists(self) -> bool:
        return self._row is not None

    @property
    def get(self):
        if self._row is None:
            return None
        vals = (self._row.get(i) for i in range(self._row.size()))
        return tuple(bytes(v) if isinstance(v, bytearray) else v for v in vals)

    @property
    def armed(self):
        t = self._group.getTimeoutTimestampMs() if self._group is not None else None
        return t.get() if t is not None and t.isPresent() else None


class JavaCep:
    """``Reassembly(step, args, idle_timeout_seconds)`` in ``spark``'s JVM.
    ``layout`` and ``output`` are its stored layout and output schema."""

    def __init__(self, spark, step: str, args, idle_timeout_seconds: int = 3600):
        jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._jvm = jvm
        self._fn = jvm.vaero.state.Reassembly(step, list(args), idle_timeout_seconds)
        self.layout = _struct(self._fn.layout())
        self.output = _struct(self._fn.output())
        self._out_row = Row(*self.output.fieldNames())
        # bound once: each py4j class or member lookup is a round trip
        self._create = jvm.org.apache.spark.sql.streaming.TestGroupState.create
        optional = jvm.org.apache.spark.api.java.Optional
        self._of, self._empty = optional.of, optional.empty()
        self._timeout = jvm.org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()
        self._long_stream_of = jvm.java.util.stream.LongStream.of
        self._row_factory_create = jvm.org.apache.spark.sql.RowFactory.create
        self._as_list = jvm.java.util.Arrays.asList
        self._long = jvm.long
        self._object = jvm.java.lang.Object
        self._batches: dict = {}
        self._rows: dict = {}
        self._watermarks: dict = {}

    def _boxed(self, values: list) -> object:
        """A Java ``Object[]`` of ``values``: a Python int becomes a
        ``java.lang.Long`` (py4j would send a small one as an ``Integer``,
        which a ``bigint`` column cannot hold)."""
        longs = self._gateway.new_array(self._long, len(values))
        for i, v in enumerate(values):
            if isinstance(v, int):
                longs[i] = v
        arr = self._long_stream_of(longs).boxed().toArray()
        for i, v in enumerate(values):
            if not isinstance(v, int):
                arr[i] = v
        return arr

    def _row(self, key: str, turn_idx, sym: str, us):
        k = (key, turn_idx, sym, us)
        if k not in self._rows:
            self._rows[k] = self._row_factory_create(self._boxed([key, turn_idx, sym, None, us]))
        return self._rows[k]

    def _watermark(self, ms: int):
        """``Optional<Long>`` of ``ms``, built in the JVM for the same reason."""
        if ms not in self._watermarks:
            jvm = self._jvm
            first = jvm.java.util.Arrays.stream(self._boxed([ms])).findFirst()
            scala = jvm.scala.jdk.javaapi.OptionConverters.toScala(first)
            self._watermarks[ms] = jvm.org.apache.spark.api.java.JavaUtils.optionToOptional(scala)
        return self._watermarks[ms]

    def _batch(self, key: str, rows):
        """The rows as a Java ``List``; a batch seen before is reused (a
        call only iterates it)."""
        k = (key, tuple(rows))
        if k not in self._batches:
            arr = self._gateway.new_array(self._object, len(k[1]))
            for i, (turn_idx, sym, us) in enumerate(k[1]):
                arr[i] = self._row(key, turn_idx, sym, us)
            self._batches[k] = self._as_list(arr)
        return self._batches[k]

    def call(self, key: str, rows, state: KeyState, watermark_ms: int = 0) -> list:
        """One call for ``key`` over ``rows`` (``(turn_idx, sym, us)``);
        ``state`` is updated in place. Returns the emitted rows."""
        stored = self._of(state._row) if state._row is not None else self._empty
        group = self._create(
            stored, self._timeout, 0, self._watermark(watermark_ms), state.hasTimedOut
        )
        it = self._fn.call(key, self._batch(key, rows).iterator(), group)
        out = []
        while it.hasNext():
            # one round trip per row: "[key,n1,n2,...]"; the numbers carry
            # no comma, so the key may
            key_, *nums = it.next().toString()[1:-1].rsplit(",", len(self.output) - 1)
            out.append(self._out_row(key_, *map(int, nums)))
        state._row = group.get() if group.exists() else None
        state._group = group
        return out


def _struct(jtype) -> T.StructType:
    return T.StructType.fromJson(json.loads(jtype.json()))
