"""Serializer tests: the parse∘serialize fixpoint on the reference fixture
plus targeted Z-operator semantics."""

import pytest
from pyspark.sql import functions as F

from rdf2hk_spark import constants as C
from rdf2hk_spark.fixtures import people_from_jf as FX
from rdf2hk_spark.operators.parse import ParseOptions, parse_quads
from rdf2hk_spark.operators.serialize import SerializeOptions, serialize_entities

QUAD_SCHEMA = "stmt_idx long, s string, p string, o string, g string"


def quadset(df):
    return {(r["s"], r["p"], r["o"], r["g"]) for r in df.select("s", "p", "o", "g").collect()}


@pytest.fixture(scope="module")
def fixture_entities(spark):
    quads = spark.createDataFrame(FX.quads(), QUAD_SCHEMA)
    return parse_quads(
        quads, ParseOptions(create_context=True, set_node_context=True)
    ).cache()


def test_roundtrip_user_triples(spark, fixture_entities):
    """parse → serialize (no reification) reproduces the original 32 quads
    byte-exactly (links re-expand, labels re-encode with @pt, default graph
    restored via defaultGraph)."""
    out = serialize_entities(
        fixture_entities,
        SerializeOptions(convert_hk=False, default_graph=C.HK_NULL_URI),
    )
    got = quadset(out)
    want = {(s, p, o, g) for _, s, p, o, g in FX.quads()}
    assert got == want, (
        f"missing={list(want - got)[:4]} extra={list(got - want)[:4]}"
    )


def test_lazy_input_evaluated_once(spark):
    """serialize_entities materializes its input once: a non-deterministic
    UDF over the lazy entities frame runs once per entity row, not once per
    branch that reads the frame."""
    quads = spark.createDataFrame(FX.quads(), QUAD_SCHEMA)
    ents = parse_quads(quads, ParseOptions(create_context=True, set_node_context=True))
    n_rows = ents.count()
    calls = spark.sparkContext.accumulator(0)

    def counted(v):
        calls.add(1)
        return v

    counted_id = F.udf(counted, "string").asNondeterministic()
    out = serialize_entities(
        ents.withColumn("id", counted_id("id")),
        SerializeOptions(convert_hk=False, default_graph=C.HK_NULL_URI),
    )
    got = quadset(out)
    assert calls.value == n_rows == 34
    assert got == {(s, p, o, g) for _, s, p, o, g in FX.quads()}


def test_roundtrip_fixpoint(spark, fixture_entities):
    """parse(serialize(parse(fixture))) == parse(fixture) — entity-level
    fixpoint without reification."""
    out = serialize_entities(
        fixture_entities,
        SerializeOptions(convert_hk=False, default_graph=C.HK_NULL_URI),
    )
    # re-number stmt_idx densely by the original fixture ordering (sets equal
    # per the previous test, order irrelevant for this fixture)
    reparsed = parse_quads(
        out.select("stmt_idx", "s", "p", "o", "g"),
        ParseOptions(create_context=True, set_node_context=True),
    )
    a = {tuple(r) for r in fixture_entities.select("id", "type", "parent", "connector").collect()}
    b = {tuple(r) for r in reparsed.select("id", "type", "parent", "connector").collect()}
    assert a == b


def test_convert_hk_reification_compressed(spark, fixture_entities):
    out = serialize_entities(
        fixture_entities,
        SerializeOptions(
            convert_hk=True, compress_reification=True, skip_ref_nodes=True,
            default_graph=C.HK_NULL_URI,
        ),
    )
    got = quadset(out)
    # connector reification: isa + className + compressed role predicates
    assert (FX.P31, C.ISA_URI, C.CONNECTOR_URI, C.HK_NULL_URI) in got
    assert (FX.P31, C.CLASSNAME_URI, '"h"', C.HK_NULL_URI) in got
    assert (FX.P31, "<hk://role/subject>", '"s"', C.HK_NULL_URI) in got
    assert (FX.P31, "<hk://role/object>", '"o"', C.HK_NULL_URI) in got
    # node isa
    assert (FX.Q5, C.ISA_URI, C.NODE_URI, C.HK_NULL_URI) in got
    # links: NO isa in compressed mode, but usesConnector + role binds
    import hashlib
    s = f"<{FX.WD}Q1131864>"
    lid = "<hk://link/" + hashlib.md5(f"{s}{FX.P31}{FX.Q5}{C.HK_NULL_URI}".encode()).hexdigest() + ">"
    assert (lid, C.USES_CONNECTOR_URI, FX.P31, C.HK_NULL_URI) in got
    assert (lid, "<hk://role/subject>", s, C.HK_NULL_URI) in got
    assert (lid, "<hk://role/object>", FX.Q5, C.HK_NULL_URI) in got
    assert (lid, C.ISA_URI, C.LINK_URI, C.HK_NULL_URI) not in got


def test_reference_props_emitted_on_target(spark):
    """A Reference's properties surface on its target in the ref's context
    (serializer.js:146-156 refObj path)."""
    g1, g2 = "<http://ctx/1>", "<http://ctx/2>"
    rows = [
        (0, "<http://e/a>", "<http://p/r>", "<http://e/b>", g1),
        (1, "<http://e/a>", "<http://p/t>", '"v"', g2),
    ]
    ents = parse_quads(
        spark.createDataFrame(rows, QUAD_SCHEMA),
        ParseOptions(create_context=True, set_node_context=True),
    )
    out = serialize_entities(ents, SerializeOptions(convert_hk=False))
    got = quadset(out)
    assert ("<http://e/a>", "<http://p/t>", '"v"', g2) in got
    assert ("<http://e/a>", "<http://p/r>", "<http://e/b>", g1) in got


def test_meta_only_roundtrip(spark):
    o = f'""{C.HK_NULL_URI}"^^<http://T>"'
    rows = [(0, "<http://e/a>", "<http://p/m>", o, C.HK_NULL_URI)]
    ents = parse_quads(spark.createDataFrame(rows, QUAD_SCHEMA), ParseOptions())
    out = serialize_entities(ents, SerializeOptions(default_graph=C.HK_NULL_URI))
    got = quadset(out)
    # meta-only property re-emits the null-value escape literal
    assert (
        "<http://e/a>", "<http://p/m>", f'"{C.HK_NULL_URI}"^^<http://T>', C.HK_NULL_URI,
    ) in got


def test_array_dedup_and_reify(spark):
    rows = [
        (0, "<http://e/a>", "<http://p/t>", '"x"', C.HK_NULL_URI),
        (1, "<http://e/a>", "<http://p/t>", '"y"', C.HK_NULL_URI),
        (2, "<http://e/a>", "<http://p/t>", '"x"', C.HK_NULL_URI),
    ]
    ents = parse_quads(spark.createDataFrame(rows, QUAD_SCHEMA), ParseOptions())
    out = serialize_entities(
        ents, SerializeOptions(convert_hk=True, default_graph=C.HK_NULL_URI)
    )
    got = quadset(out)
    # deduped per-element triples
    assert ("<http://e/a>", "<http://p/t>", '"x"', C.HK_NULL_URI) in got
    assert ("<http://e/a>", "<http://p/t>", '"y"', C.HK_NULL_URI) in got
    # JSON reification of the PRE-dedup array (reifyArray defaults on under convertHK)
    assert (
        "<http://e/a>", "<http://p/t>",
        f'"[\\"x\\",\\"y\\",\\"x\\"]"^^{C.DATA_LIST_URI}', C.HK_NULL_URI,
    ) in got
