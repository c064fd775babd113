"""JSON envelope assembly with SQS-aware chunking.

The reference publishes ALL node + relation records as ONE SQS message
``json.dumps({'nodes': [...], 'relations': [...]})``
(reference: publisher/aws_sqs_csv_puiblisher.py:107-138) and merely
*documents* the ~250 KB limit — an oversize payload just raises (:141-143).

Here the envelope is a first-class, size-enforced format::

    {"nodes": [...], "relations": [...], "chunk": i, "of": n, "tag": t}

Records are greedy-packed so each serialized message stays under the hard
AWS SQS bound (256 KiB) minus headroom; nodes are packed before relations
(preserving the reference's ordering contract, :112-125).  Chunk count is
only known at the end, so packing is two-phase: pack -> stamp ``of``.

One packer, two encoders.  The packer (:func:`_pack`) sees only record
texts and their byte sizes.  Two encoders feed it the same texts:

* :func:`pack_envelopes` encodes Python dicts one at a time with
  ``json.dumps`` (:func:`_encode`) — the executor-side
  ``publish_distributed`` path and every caller holding Python records;
* :func:`pack_tables` encodes flat ``pyarrow`` tables column by column
  with ``pyarrow.compute`` — the driver-side ``publish_collected`` path,
  which so pays no per-record Python for string, integral and boolean
  columns.

Both give byte-identical bodies for the same records (tested in
tests/test_envelope_encoders.py).  ``_encode`` rewrites a lone surrogate
as its ``\\uXXXX`` escape because a Python str can hold one and UTF-8
cannot; the columnar encoder needs no such step, because an Arrow string
column is UTF-8, which has no encoding for a surrogate code point.

This module is pure (records in, JSON strings out) so it is golden-testable
without any AWS dependency; the Spark-facing side lives in sinks/sqs.py.
"""

from __future__ import annotations

import json
import math
import re
from collections.abc import Iterable, Iterator
from json.encoder import encode_basestring
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:
    import pyarrow as pa

__all__ = ["SQS_HARD_LIMIT", "DEFAULT_MAX_BYTES", "pack_envelopes",
           "pack_tables", "envelope_json"]

#: AWS SQS maximum message size (262,144 bytes).
SQS_HARD_LIMIT = 256 * 1024

#: Default packing bound: hard limit minus headroom for the chunk/of/tag
#: fields and message attributes.
DEFAULT_MAX_BYTES = SQS_HARD_LIMIT - 4 * 1024


#: A lone surrogate code point: a Python str can hold one, UTF-8 cannot.
_SURROGATE = re.compile("[\ud800-\udfff]")

#: Characters ``json.dumps`` writes as ``\\uXXXX`` or a short escape
#: (besides ``"`` and ``\\``); an RE2 class for ``pyarrow.compute``.
_CONTROL = "[\x00-\x1f]"


def _encode(value: Any) -> str:
    # Compact, sorted keys, raw UTF-8: non-ASCII is emitted as-is, not
    # \uXXXX-escaped, so a body's byte length is what actually goes over
    # the wire (SQS limits are byte limits) and what a raw-UTF-8 consumer
    # (or the DuckDB to_json oracle in sink_envelope_chunking) measures.
    # The one exception is a lone surrogate, which has no UTF-8 form: it
    # keeps the \uXXXX escape that json.loads reads back to the same str.
    text = json.dumps(value, separators=(",", ":"), sort_keys=True,
                      ensure_ascii=False, default=str)
    if not text.isascii():
        text = _SURROGATE.sub(lambda m: f"\\u{ord(m.group()):04x}", text)
    return text


def _record_size(record: dict[str, Any]) -> int:
    # +1 for the comma separator in a JSON array; sizes are UTF-8 bytes
    # (SQS limits are byte limits, and non-ASCII inflates past len(str)).
    return len(_encode(record).encode("utf-8")) + 1


def envelope_json(nodes: list[dict[str, Any]], relations: list[dict[str, Any]],
                  chunk: int, of: int, tag: str) -> str:
    """Serialize one envelope deterministically (sorted keys, compact,
    raw UTF-8)."""
    return _encode({"nodes": nodes, "relations": relations, "chunk": chunk,
                    "of": of, "tag": tag})


def _pack(nodes: Iterable[tuple[str, int]],
          relations: Iterable[tuple[str, int]],
          tag: str, max_bytes: int) -> Iterator[str]:
    """The greedy packer over ``(record text, charge)`` pairs, where the
    charge is the text's UTF-8 length + 1 for the array comma.  Each
    text is spliced into its body as given, so a body is byte-identical
    to ``envelope_json`` over the records the texts encode."""
    base_overhead = len(envelope_json([], [], 0, 10 ** 9, tag).encode("utf-8"))
    budget = max_bytes - base_overhead
    if budget <= 0:
        raise ValueError(f"max_bytes={max_bytes} leaves no record budget")

    chunks: list[tuple[list[str], list[str]]] = []
    cur_nodes: list[str] = []
    cur_rels: list[str] = []
    cur_size = 0

    def flush() -> None:
        nonlocal cur_nodes, cur_rels, cur_size
        if cur_nodes or cur_rels:
            chunks.append((cur_nodes, cur_rels))
            cur_nodes, cur_rels, cur_size = [], [], 0

    for kind, records in (("nodes", nodes), ("relations", relations)):
        for text, size in records:
            if size > budget:
                raise ValueError(
                    f"single {kind} record of {size} bytes exceeds the "
                    f"{budget}-byte envelope budget; split the record")
            if cur_size + size > budget:
                flush()
            (cur_nodes if kind == "nodes" else cur_rels).append(text)
            cur_size += size
    flush()

    total = len(chunks)
    tag_json = _encode(tag)
    for i, (ns, rs) in enumerate(chunks):
        # envelope_json's sorted key order: chunk, nodes, of, relations, tag
        body = (f'{{"chunk":{i},"nodes":[{",".join(ns)}],"of":{total},'
                f'"relations":[{",".join(rs)}],"tag":{tag_json}}}')
        assert len(body.encode("utf-8")) <= max_bytes, "packing invariant violated"
        yield body


def _encoded(records: Iterable[dict[str, Any]]) -> Iterator[tuple[str, int]]:
    for record in records:
        text = _encode(record)
        yield text, len(text.encode("utf-8")) + 1  # _record_size, one encode


def pack_envelopes(nodes: Iterable[dict[str, Any]],
                   relations: Iterable[dict[str, Any]],
                   tag: str,
                   max_bytes: int = DEFAULT_MAX_BYTES) -> Iterator[str]:
    """Greedy-pack records into JSON envelope strings, each <= max_bytes.

    Each record is serialized once: its JSON text is both what is charged
    against the budget (UTF-8 bytes + 1 for the array comma) and what is
    spliced into the body, so a body is byte-identical to
    ``envelope_json`` over the same records without a second encode.

    A single record larger than ``max_bytes`` raises ValueError — the
    caller must split the record (the reference would instead fail at the
    SQS API with an opaque error; we fail early with the offending size).
    """
    return _pack(_encoded(nodes), _encoded(relations), tag, max_bytes)


def _float_json(v: float | None) -> str | None:
    # json.dumps' float rendering: float.__repr__, and JavaScript's
    # names for the non-finite values
    if v is None:
        return None
    if math.isfinite(v):
        return float.__repr__(v)
    return "NaN" if v != v else ("Infinity" if v > 0 else "-Infinity")


def _value_json(column: pa.ChunkedArray) -> pa.ChunkedArray | pa.Array:
    """One column's JSON value texts, NULL kept as NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = column.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        if pc.any(pc.match_substring_regex(column, _CONTROL)).as_py():
            return pa.array([None if v is None else encode_basestring(v)
                             for v in column.to_pylist()], pa.string())
        escaped = pc.replace_substring(
            pc.replace_substring(column, "\\", "\\\\"), '"', '\\"')
        return pc.binary_join_element_wise(
            '"', pc.cast(escaped, pa.string()), '"', "")
    if pa.types.is_integer(t) or pa.types.is_boolean(t) or pa.types.is_null(t):
        return pc.cast(column, pa.string())
    if pa.types.is_floating(t):
        return pa.array([_float_json(v) for v in column.to_pylist()],
                        pa.string())
    raise TypeError(f"pack_tables: column type {t} has no columnar JSON "
                    "encoding; only string, integral, boolean and floating "
                    "columns do")


def _record_texts(table: pa.Table) -> tuple[list[str], list[int]]:
    """Each row's JSON object text (keys sorted, compact) and its charge
    (UTF-8 bytes + 1), built column-wise.  pyarrow is imported here, on
    first use, so the row encoder's callers (executor partitions, the
    streaming sink) never load ``pyarrow.compute`` (about 7 MB of RSS)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    names = table.column_names
    if len(set(names)) != len(names):
        dup = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"pack_tables: duplicate column names {dup}")
    parts: list[Any] = []
    for i, name in enumerate(sorted(names)):
        parts.append(("{" if i == 0 else ",") + _encode(name) + ":")
        parts.append(pc.fill_null(_value_json(table.column(name)), "null"))
    if not parts:
        texts = pa.array(["{}"] * table.num_rows, pa.string())
    else:
        parts.append("}")
        texts = pc.binary_join_element_wise(*parts, "")
    sizes = pc.add(pc.binary_length(texts), 1)
    return texts.to_pylist(), sizes.to_pylist()


def pack_tables(nodes: pa.Table, relations: pa.Table, tag: str,
                max_bytes: int = DEFAULT_MAX_BYTES) -> Iterator[str]:
    """:func:`pack_envelopes` over the rows of two flat Arrow tables, with
    the record texts built column-wise: the bodies are byte-identical to
    ``pack_envelopes(nodes.to_pylist(), relations.to_pylist(), ...)``.

    String values are escaped and quoted, integers and booleans cast,
    NULL written ``null``, all in ``pyarrow.compute``; floating columns
    and any string column holding a control character go through
    Python's own JSON renderers.  Raises ``TypeError`` on a column of
    any other type and ``ValueError`` on duplicate column names (a
    record dict would keep only one of them).  The tables are encoded
    and released before the first body is built."""
    node_items = zip(*_record_texts(nodes))
    del nodes
    rel_items = zip(*_record_texts(relations))
    del relations
    return _pack(node_items, rel_items, tag, max_bytes)
