"""N-Quads source/sink round trip + the driver-side Turtle fixture reader."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rdf2hk_spark import constants as C
from rdf2hk_spark.fixtures import people_from_jf as FX
from rdf2hk_spark.operators.parse import ParseOptions, parse_quads
from rdf2hk_spark.sources import nquads

QUAD_SCHEMA = "stmt_idx long, s string, p string, o string, g string"
DATA = Path(__file__).parent / "data"


def test_nquads_write_read_roundtrip(spark, tmp_path):
    rows = [
        (0, "<http://e/a>", "<http://p/r>", "<http://e/b>", "<http://g/1>"),
        (1, "<http://e/a>", "<http://p/t>", '"line1\nline2 "quoted""', C.HK_NULL_URI),
        (2, "_:b0", "<http://p/t>", '"x"@pt', "<http://g/1>"),
        (3, "<http://e/b>", "<http://p/n>",
         f'"7"^^{C.XSD_INTEGER_URI}', C.HK_NULL_URI),
    ]
    quads = spark.createDataFrame(rows, QUAD_SCHEMA)
    path = str(tmp_path / "out.nq")
    nquads.write_nquads(quads, path)
    back = nquads.read_nquads(spark, path)
    a = {(r["s"], r["p"], r["o"], r["g"]) for r in quads.collect()}
    b = {(r["s"], r["p"], r["o"], r["g"]) for r in back.collect()}
    assert a == b


def test_nquads_reader_handles_triples_and_garbage(spark, tmp_path):
    p = tmp_path / "mixed.nq"
    p.write_text(
        "<http://a> <http://p> <http://b> .\n"
        "# a comment line\n"
        "\n"
        '<http://a> <http://p> "v"@en <http://g> .\n'
        "malformed junk line\n"
    )
    q = nquads.read_nquads(spark, str(p))
    got = {(r["s"], r["p"], r["o"], r["g"]) for r in q.collect()}
    assert got == {
        ("<http://a>", "<http://p>", "<http://b>", C.HK_NULL_URI),
        ("<http://a>", "<http://p>", '"v"@en', "<http://g>"),
    }


def test_driver_turtle_reader_matches_fixture(spark):
    """The tiny Turtle reader reproduces the hand-encoded fixture from its
    Turtle text (prefixed names, ``;`` predicate lists, ``@lang``
    literals)."""
    ttl = (DATA / "people_from_jf.ttl").read_text(encoding="utf-8")
    rows = nquads.parse_turtle_driver(ttl)
    got = {(s, p, o) for _, s, p, o, _ in rows}
    want = {(s, p, o) for _, s, p, o, _ in FX.quads()}
    assert got == want
    assert len(rows) == 32
    # and the parsed quads convert to the reference's expected counts
    ents = parse_quads(
        spark.createDataFrame(rows, QUAD_SCHEMA),
        ParseOptions(create_context=True, set_node_context=True),
    )
    assert ents.count() == 34
