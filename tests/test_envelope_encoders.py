"""The two envelope encoders agree byte for byte, without Spark:
``pack_tables`` (column-wise over Arrow) and ``pack_envelopes`` (one
``json.dumps`` per record dict) over the same seeded random flat tables,
hostile values included."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest

from ab_metadata_pusher_spark.sinks.envelope import (
    DEFAULT_MAX_BYTES, pack_envelopes, pack_tables,
)

#: Every character JSON must escape, the ones it must not (DEL, U+2028,
#: astral), and text that looks like an escape but is not one.
_ALPHABET = ([chr(c) for c in range(0x20)]
             + ['"', "\\", "\x7f", "\u2028", "é", "漢", "😀", "𝄞", "a", " "])
_SPECIAL_STRINGS = ["", None, "\\u00", '"\\"', "\\\\u0041", "  ",
                    "😀" * 3, "".join(chr(c) for c in range(0x20))]

_INTS = {t: (np.iinfo(t).min, np.iinfo(t).max, 0, -1)
         for t in ("int8", "int16", "int32", "int64")}
_FLOATS = [float("nan"), float("inf"), -float("inf"), -0.0, 0.0, 1e-5,
           1e300, -1e300, 0.1, 1 / 3, None]


def _text(rng: random.Random) -> str | None:
    if rng.random() < 0.3:
        return rng.choice(_SPECIAL_STRINGS)
    return "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(0, 12)))


def _column(rng: random.Random, kind: str, n: int) -> pa.Array:
    if kind == "clean_str":  # no control characters: the columnar path
        return pa.array([rng.choice(['', None, 'a"b', "c\\d", "é😀 ",
                                     "\\u00", "\x7f"]) for _ in range(n)],
                        pa.string())
    if kind == "str":
        return pa.array([_text(rng) for _ in range(n)], pa.string())
    if kind == "large_str":
        return pa.array([_text(rng) for _ in range(n)], pa.large_string())
    if kind in _INTS:
        vals = [None if rng.random() < 0.1 else int(rng.choice(_INTS[kind]))
                for _ in range(n)]
        return pa.array(vals, getattr(pa, kind)())
    if kind == "bool":
        return pa.array([rng.choice([True, False, None]) for _ in range(n)])
    if kind == "float64":
        return pa.array([rng.choice(_FLOATS) for _ in range(n)], pa.float64())
    if kind == "float32":
        vals = [rng.choice(_FLOATS) for _ in range(n)]
        with np.errstate(over="ignore"):
            f32 = np.array([np.nan if v is None else v for v in vals],
                           dtype=np.float32)
        return pa.array(f32, mask=np.array([v is None for v in vals], bool))
    if kind == "null":
        return pa.nulls(n)
    raise AssertionError(kind)


_KINDS = ["clean_str", "str", "large_str", *_INTS, "bool", "float64",
          "float32", "null"]


def _table(rng: random.Random, n: int) -> pa.Table:
    kinds = rng.sample(_KINDS, rng.randint(1, len(_KINDS)))
    # names that sort differently from their insertion order, one that
    # JSON must escape
    names = [rng.choice("zAb_") + str(i) + rng.choice(["", "é", '"'])
             for i in range(len(kinds))]
    return pa.table([_column(rng, k, n) for k in kinds], names=names)


def _bodies(pack, *args):
    try:
        return list(pack(*args))
    except ValueError as e:  # a record past a small budget: both refuse
        return ("ValueError", str(e))


@pytest.mark.parametrize("seed", range(12))
@pytest.mark.parametrize("max_bytes", [600, 4096, DEFAULT_MAX_BYTES])
def test_pack_tables_equals_pack_envelopes(seed, max_bytes):
    rng = random.Random(seed)
    nodes = _table(rng, rng.choice([0, 1, 7, 40]))
    rels = _table(rng, rng.choice([0, 3, 25]))
    want = _bodies(pack_envelopes, nodes.to_pylist(), rels.to_pylist(),
                   f"t{seed}", max_bytes)
    got = _bodies(pack_tables, nodes, rels, f"t{seed}", max_bytes)
    assert got == want
    # multi-chunk columns encode the same as one chunk
    chunked = pa.Table.from_batches(nodes.to_batches(max_chunksize=3),
                                    nodes.schema)
    assert _bodies(pack_tables, chunked, rels, f"t{seed}", max_bytes) == want


def test_pack_tables_every_kind_at_every_size():
    """One table holding every column kind over 64 rows, so each hostile
    value shows up; the bodies span several envelopes at 4096 bytes."""
    rng = random.Random(99)
    table = pa.table([_column(rng, k, 64) for k in _KINDS], names=_KINDS)
    for max_bytes in (4096, DEFAULT_MAX_BYTES):
        want = list(pack_envelopes(table.to_pylist(), table.to_pylist()[:5],
                                   "all", max_bytes))
        assert list(pack_tables(table, table.slice(0, 5), "all",
                                max_bytes)) == want
    assert len(want) == 1
    assert len(list(pack_tables(table, table, "all", 4096))) > 2


def test_pack_tables_zero_rows_and_refusals():
    empty = pa.table({"a": pa.array([], pa.string()),
                      "b": pa.array([], pa.int64())})
    assert list(pack_tables(empty, empty, "t")) == []
    no_columns = pa.table({"a": [1, 2]}).drop_columns(["a"])  # two {} rows
    assert list(pack_tables(no_columns, empty, "t")) == list(
        pack_envelopes(no_columns.to_pylist(), [], "t"))
    dup = pa.table([pa.array(["x"]), pa.array([1])], names=["k", "k"])
    with pytest.raises(ValueError, match="duplicate column names"):
        pack_tables(dup, empty, "t")
    ts = pa.table({"ts": pa.array([0], pa.timestamp("us"))})
    with pytest.raises(TypeError, match="timestamp"):
        pack_tables(ts, empty, "t")


@pytest.mark.parametrize("code", [*range(0x20), 0x7f, 0x2028])
def test_pack_tables_one_special_char_per_column(code):
    """A column whose only special character is ``chr(code)`` (the
    control-character check looks at the whole column, so one
    occurrence must be enough to take the escaping path)."""
    table = pa.table({"s": [f"a{chr(code)}b", 'q"\\', None]})
    assert (list(pack_tables(table, table, "c"))
            == list(pack_envelopes(table.to_pylist(), table.to_pylist(),
                                   "c")))
