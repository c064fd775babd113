"""Golden output-contract tests (SURVEY.md §5.2): the EXACT bytes of the
legacy CSV staging layout and the envelope chunk stream are pinned in
tests/golden/.  Any drift in type mapping, header synthesis (LABEL/KEY,
:UNQUOTED), null rendering, key generation, record ordering, or chunk
packing fails here byte-for-byte.

Regenerate after an INTENTIONAL contract change with
    python scripts/gen_goldens.py
and review the golden diff in the commit.
"""

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
GOLDEN = REPO / "tests" / "golden"

_spec = importlib.util.spec_from_file_location(
    "gen_goldens", REPO / "scripts" / "gen_goldens.py")
_gen = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_gen)


def test_golden_output_contracts(spark, tmp_path):
    got = _gen.build(spark, str(tmp_path))
    for name, content in got.items():
        want = (GOLDEN / name).read_text()
        assert content == want, f"{name} drifted from golden"


def test_golden_chunks_through_the_columnar_encoder(spark):
    """``publish_collected``'s encoder renders the pinned chunks too:
    ``pack_tables`` over the Arrow collects of the same ordered frames
    gives the bytes ``pack_envelopes`` over their Rows pinned."""
    from ab_metadata_pusher_spark.sinks.envelope import pack_tables

    nodes, rels = _gen.graph(spark)
    chunks = list(pack_tables(nodes.toArrow(), rels.toArrow(),
                              tag="golden", max_bytes=4096))
    assert json.dumps(chunks, indent=1) == (
        GOLDEN / "envelope_chunks.json").read_text()


def test_golden_chunks_respect_byte_budget_and_ordering():
    chunks = json.loads((GOLDEN / "envelope_chunks.json").read_text())
    assert len(chunks) > 1
    seen_relation = False
    for i, body in enumerate(chunks):
        assert len(body.encode("utf-8")) <= 4096
        env = json.loads(body)
        assert env["chunk"] == i and env["of"] == len(chunks)
        assert env["tag"] == "golden"
        # reference contract: all nodes published before any relation
        if env["relations"]:
            seen_relation = True
        if seen_relation and i + 1 < len(chunks):
            assert not json.loads(chunks[i + 1])["nodes"] \
                or not env["relations"]
    assert seen_relation
