"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The KG-construction operators (SURVEY.md §2.3) are checked by deriving a
deterministic RDF quad corpus from the TPC-H-ish testdata in BOTH engines
(rdf2hk_spark.sources.tpch_kg.quads_df on the Spark side, the QUADS_CTE SQL on
the DuckDB side) and re-deriving the parse pipeline's outputs independently in
portable SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from rdf2hk_spark import constants as C
from rdf2hk_spark.operators.parse import ParseOptions, parse_quads
from rdf2hk_spark.operators.serialize import SerializeOptions, serialize_entities
from rdf2hk_spark.ops import dedup, similarity, textstats
from rdf2hk_spark.plans import query as plans_query
from rdf2hk_spark.sources import tpch_kg

KG_OPTS = ParseOptions(create_context=True, set_node_context=True)
TLN_OPTS = ParseOptions(
    create_context=True, set_node_context=True, text_literal_as_node=True
)

_ENTITY_CACHE: dict[tuple[str, bool], DataFrame] = {}


def _entities(
    spark: SparkSession, sf_dir: str, text_literal_as_node: bool = False
) -> DataFrame:
    """Parse the corpus once per (sf_dir, options) and persist; every query
    projects from the same cached entities DataFrame (the driver runs queries
    one by one)."""
    key = (sf_dir, text_literal_as_node)
    df = _ENTITY_CACHE.get(key)
    if df is None:
        opts = TLN_OPTS if text_literal_as_node else KG_OPTS
        # localCheckpoint (not persist): truncates the ~40-node parse plan so
        # the 30+ downstream oracle queries re-analyze a leaf, not the tree
        df = parse_quads(tpch_kg.quads_df(spark, sf_dir), opts).localCheckpoint()
        _ENTITY_CACHE[key] = df
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG-construct the quad corpus at sf0.001 → entity summary."""
    ents = _entities(spark, "/root/testdata/sf0.001")
    return ents.select(
        "id", "type", "parent", "connector", "ref", "className",
        F.size(F.coalesce(F.map_keys("properties"), F.array())).alias("n_props"),
    )


# ---------------------------------------------------------------------------
# Spark-side query functions
# ---------------------------------------------------------------------------

def q_kg_connectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _entities(spark, sf_dir)
    return e.filter(F.col("type") == C.CONNECTOR).select(
        "id", F.col("className").alias("class_name")
    )


def q_kg_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _entities(spark, sf_dir)
    return e.filter(F.col("type") == C.CONTEXT).select("id")


def q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _entities(spark, sf_dir)
    return e.filter(F.col("type") == C.NODE).select("id", "parent")


def q_kg_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _entities(spark, sf_dir)
    subj = F.filter("binds", lambda b: b["role"] == "subject")[0]["comp"]
    obj = F.filter("binds", lambda b: b["role"] == "object")[0]["comp"]
    return e.filter(F.col("type") == C.LINK).select(
        "id", "connector", "parent", subj.alias("subj"), obj.alias("obj")
    )


def q_kg_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _entities(spark, sf_dir)
    per_prop = e.filter(F.col("properties").isNotNull()).select(
        "id", F.explode("properties").alias("prop", "vals")
    )
    return per_prop.select(
        "id", "prop", F.posexplode("vals").alias("idx", "value")
    ).select("id", "prop", F.col("idx").cast("int").alias("idx"), "value")


def q_kg_metaproperties(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _entities(spark, sf_dir)
    per_prop = e.filter(F.col("metaProperties").isNotNull()).select(
        "id", F.explode("metaProperties").alias("prop", "vals")
    )
    return per_prop.select(
        "id", "prop", F.posexplode("vals").alias("idx", "mval")
    ).select("id", "prop", F.col("idx").cast("int").alias("idx"), "mval")


def q_kg_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _entities(spark, sf_dir)
    return e.filter(F.col("type") == C.REFERENCE).select(
        "id", "ref", "parent"
    )


def q_kg_entity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _entities(spark, sf_dir)
    return e.groupBy(F.col("type").alias("etype")).agg(
        F.count("*").cast("long").alias("n")
    )


def q_kg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """serialize(parse(corpus)) must reproduce the corpus quads byte-exactly —
    the Z1-Z9 serializer checked against the original quad-generation SQL."""
    rdf = serialize_entities(
        _entities(spark, sf_dir),
        SerializeOptions(convert_hk=False, default_graph=C.HK_NULL_URI),
    )
    return rdf.select("s", "p", "o", "g")


def q_kg_filter_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query layer Q3: links by connector (compiles to a pushed-down filter)."""
    out = plans_query.filter_entities(
        _entities(spark, sf_dir),
        {"type": "link", "connector": "<urn:hk:p/inNation>"},
    )
    return out.select("id", "parent")


def q_kg_remove_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query layer Q7: surviving entity ids after cascade-removing nation/0
    (drops the node, every link binding it, and connectors' refs to it)."""
    out = plans_query.remove_entities(
        _entities(spark, sf_dir), ["<urn:hk:nation/0>"]
    )
    return out.select("id")


_HKV_G = "<urn:hk:g/hkv>"


def _hk_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quads + synthesized Hyperknowledge-vocabulary statements (per
    nation: an isa-typed entity alternating node/context, plus a
    usesConnector link shell), parsed with convertHK — the H-family
    reconstruction exercised against an independent oracle."""
    key = (sf_dir, "hkv")
    df = _ENTITY_CACHE.get(key)
    if df is not None:
        return df
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("string")
    idx = F.col("n_nationkey").cast("long") * 10 + F.lit(3 * 10**12)
    g = F.lit(_HKV_G)

    def stmt(off: int, s, p: str, o) -> DataFrame:
        return nation.select(
            (idx + off).alias("stmt_idx"), s.alias("s"),
            F.lit(p).alias("p"), o.alias("o"), g.alias("g"),
        )

    ent = F.concat(F.lit("<urn:hk:hk/"), k, F.lit(">"))
    lnk = F.concat(F.lit("<urn:hk:hklink/"), k, F.lit(">"))
    isa_obj = F.when(
        F.col("n_nationkey") % 2 == 0, F.lit(C.NODE_URI)
    ).otherwise(F.lit(C.CONTEXT_URI))
    hk_quads = (
        stmt(0, ent, C.ISA_URI, isa_obj)
        .unionByName(stmt(1, lnk, C.USES_CONNECTOR_URI, F.lit("<urn:hk:p/inRegion>")))
    )
    quads = tpch_kg.quads_df(spark, sf_dir).unionByName(hk_quads)
    opts = ParseOptions(create_context=True, set_node_context=True, convert_hk=True)
    df = parse_quads(quads, opts).localCheckpoint()
    _ENTITY_CACHE[key] = df
    return df


def q_kg_hk_shells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1/H2: isa statements type entities (parent = graph), usesConnector
    mints link shells with the connector set."""
    e = _hk_entities(spark, sf_dir)
    return e.filter(F.col("id").startswith("<urn:hk:hk")).select(
        "id", F.col("type").alias("etype"), "parent", "connector"
    )


_OWL = "http://www.w3.org/2002/07/owl#"
_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
_OWL_G = "<urn:hk:g/owl>"


def _owl_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quads + deterministic synthesized OWL statements (a restriction
    bnode per 50th part + one ObjectProperty TBox), parsed with the OWLParser
    plugin. Cached like the other entity variants."""
    key = (sf_dir, "owl")
    df = _ENTITY_CACHE.get(key)
    if df is not None:
        return df
    from rdf2hk_spark.operators.owlparser import parse_with_owl

    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_partkey") % 50 == 0
    )
    bn = F.concat(F.lit("_:rp"), F.col("p_partkey").cast("string"))
    idx = F.col("p_partkey").cast("long") * 10 + F.lit(10**12)
    g = F.lit(_OWL_G)

    def stmt(off: int, s, p: str, o) -> DataFrame:
        return part.select(
            (idx + off).alias("stmt_idx"), s.alias("s"),
            F.lit(p).alias("p"), o.alias("o"), g.alias("g"),
        )

    brand = F.concat(F.lit("<urn:hk:brand/"), F.col("p_brand"), F.lit(">"))
    owl_quads = (
        stmt(0, bn, C.RDF_TYPE_URI, F.lit(f"<{_OWL}Restriction>"))
        .unionByName(stmt(1, bn, f"<{_OWL}onProperty>", F.lit("<urn:hk:p/hasBrand>")))
        .unionByName(stmt(2, bn, f"<{_OWL}someValuesFrom>", brand))
    )
    tbox_rows = [
        (10**13 + i, "<urn:hk:p/hasBrand>", p, o, _OWL_G)
        for i, (p, o) in enumerate([
            (C.RDF_TYPE_URI, f"<{_OWL}ObjectProperty>"),
            (f"<{_RDFS}domain>", "<urn:hk:part>"),
            (f"<{_RDFS}range>", "<urn:hk:brand>"),
            (f"<{_OWL}inverseOf>", "<urn:hk:p/brandOf>"),
        ])
    ]
    tbox = spark.createDataFrame(
        tbox_rows, "stmt_idx long, s string, p string, o string, g string"
    )
    quads = tpch_kg.quads_df(spark, sf_dir).unionByName(owl_quads).unionByName(tbox)
    df = parse_with_owl(quads, KG_OPTS).localCheckpoint()
    _ENTITY_CACHE[key] = df
    return df


def q_kg_owl_restrictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: restriction bnodes → n-ary links on the owl:Restriction connector."""
    from rdf2hk_spark.operators.owlparser import (
        ON_PROPERTY_LABEL, RESTRICTION_URI, SOME_VALUES_FROM_LABEL,
    )

    e = _owl_entities(spark, sf_dir)
    links = e.filter(
        (F.col("type") == C.LINK) & (F.col("connector") == RESTRICTION_URI)
    )
    comp = lambda lbl: F.filter("binds", lambda b: b["role"] == lbl)[0]["comp"]
    return links.select(
        "id", "parent",
        comp(ON_PROPERTY_LABEL).alias("on_prop"),
        comp(SOME_VALUES_FROM_LABEL).alias("some_v"),
    )


def q_kg_owl_connectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3: the OWL-minted connectors' properties (rdf:type, domain/range,
    qualifiers), exploded to rows."""
    from rdf2hk_spark.operators.owlparser import RESTRICTION_URI

    e = _owl_entities(spark, sf_dir)
    sel = e.filter(F.col("id").isin("<urn:hk:p/hasBrand>", RESTRICTION_URI))
    return (
        sel.select("id", F.explode("properties").alias("prop", "vals"))
        .select("id", "prop", F.posexplode("vals").alias("idx", "value"))
        .select("id", "prop", F.col("idx").cast("int").alias("idx"), "value")
    )


_SOWL_G = "<urn:hk:g/sowl>"


def q_kg_owl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 (SimpleOwlSerializer inverse): serialize(parse_with_simple_owl(
    corpus + per-part OWL TBox), convert_owl=True) reproduces every input
    quad byte-exactly EXCEPT the (s, rdf:type, owl:ObjectProperty) typing
    statements, which both sides of the round trip absorb into the FACTS
    connector shell (simpleowlparser.js:105-115). OWL-vocab-predicate
    statements come back as RESOURCE triples via simpleowlserializer.js:63-77
    — the quoted-literal artifact that existed before convert_owl is the
    exact failure this oracle guards."""
    key = (sf_dir, "sowl_rt")
    df = _ENTITY_CACHE.get(key)
    if df is not None:
        return df
    from rdf2hk_spark.operators.owl import parse_with_simple_owl

    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_partkey") % 50 == 0
    )
    k = F.col("p_partkey").cast("string")
    subj = F.concat(F.lit("<urn:hk:p/brand"), k, F.lit(">"))
    idx = F.col("p_partkey").cast("long") * 10 + F.lit(2 * 10**12)
    g = F.lit(_SOWL_G)

    def stmt(off: int, p: str, o) -> DataFrame:
        return part.select(
            (idx + off).alias("stmt_idx"), subj.alias("s"),
            F.lit(p).alias("p"), o.alias("o"), g.alias("g"),
        )

    brand = F.concat(F.lit("<urn:hk:brand/"), F.col("p_brand"), F.lit(">"))
    size_lit = F.concat(
        F.lit('"'), F.col("p_size").cast("string"),
        F.lit('"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    )
    tbox = (
        stmt(0, C.RDF_TYPE_URI, F.lit(f"<{_OWL}ObjectProperty>"))
        .unionByName(stmt(1, f"<{_RDFS}domain>", F.lit("<urn:hk:part>")))
        .unionByName(stmt(2, f"<{_RDFS}range>", brand))
        .unionByName(
            stmt(3, f"<{_OWL}inverseOf>",
                 F.concat(F.lit("<urn:hk:p/brandOf"), k, F.lit(">")))
        )
        .unionByName(stmt(4, f"<{_OWL}hasValue>", size_lit))
    )
    quads = tpch_kg.quads_df(spark, sf_dir).unionByName(tbox)
    ents = parse_with_simple_owl(quads, KG_OPTS)
    out = serialize_entities(
        ents, SerializeOptions(convert_owl=True, default_graph=C.HK_NULL_URI)
    ).select("s", "p", "o", "g").localCheckpoint()
    _ENTITY_CACHE[key] = out
    return out


_TIME = "http://www.w3.org/2006/time#"
_TIME_G = "<urn:hk:g/time>"


def _time_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quads + deterministic OWL-Time statements (per 200th order: an
    interval whose beginning instant carries the order date), parsed with the
    OwlTimeParser plugin."""
    key = (sf_dir, "time")
    df = _ENTITY_CACHE.get(key)
    if df is not None:
        return df
    from rdf2hk_spark.operators.owltime import parse_with_owl_time

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") % 200 == 0
    )
    k = F.col("o_orderkey").cast("string")
    d = F.date_format("o_orderdate", "yyyy-MM-dd")
    iv = F.concat(F.lit("<urn:hk:time/iv/"), k, F.lit(">"))
    inst = F.concat(F.lit("<urn:hk:time/in/"), k, F.lit(">"))
    ordid = F.concat(F.lit("<urn:hk:order/"), k, F.lit(">"))
    dt_lit = F.concat(
        F.lit('"'), d,
        F.lit('T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>'),
    )
    idx = F.col("o_orderkey").cast("long") * 10 + F.lit(2 * 10**12)
    g = F.lit(_TIME_G)

    def stmt(off: int, s, p: str, o) -> DataFrame:
        return orders.select(
            (idx + off).alias("stmt_idx"), s.alias("s"),
            F.lit(p).alias("p"), o.alias("o"), g.alias("g"),
        )

    time_quads = (
        stmt(0, ordid, f"<{_TIME}hasTime>", iv)
        .unionByName(stmt(1, iv, C.RDF_TYPE_URI, F.lit(f"<{_TIME}Interval>")))
        .unionByName(stmt(2, iv, f"<{_TIME}hasBeginning>", inst))
        .unionByName(stmt(3, inst, C.RDF_TYPE_URI, F.lit(f"<{_TIME}Instant>")))
        .unionByName(stmt(4, inst, f"<{_TIME}inXSDDateTime>", dt_lit))
    )
    quads = tpch_kg.quads_df(spark, sf_dir).unionByName(time_quads)
    df = parse_with_owl_time(quads, KG_OPTS, time_context=_TIME_G).localCheckpoint()
    _ENTITY_CACHE[key] = df
    return df


def q_kg_time_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: OWL-Time instants/intervals become temporal anchors (interfaces on
    the time context), exploded to (aid, prop, value) rows."""
    e = _time_entities(spark, sf_dir)
    ctx = e.filter(F.col("id") == _TIME_G)
    return ctx.select(F.explode("interfaces").alias("aid", "iface")).select(
        "aid", F.explode("iface.properties").alias("prop", "value")
    )


def q_kg_time_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: statements touching an anchor become links binding the context AT
    the anchor."""
    e = _time_entities(spark, sf_dir)
    links = e.filter((F.col("type") == C.LINK) & (F.col("parent") == _TIME_G))
    sb = F.filter("binds", lambda b: b["role"] == "subject")[0]
    ob = F.filter("binds", lambda b: b["role"] == "object")[0]
    return links.select(
        "id", "connector",
        sb["comp"].alias("s_comp"), sb["anchor"].alias("s_anchor"),
        ob["comp"].alias("o_comp"), ob["anchor"].alias("o_anchor"),
    )


def q_kg_text_literal_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 textLiteralAsNode: every text literal becomes a content node
    ``<hk://node/md5(value)>`` carrying the value as data."""
    e = _entities(spark, sf_dir, text_literal_as_node=True)
    return e.filter(
        (F.col("type") == C.NODE) & F.col("id").startswith("<hk://node/")
    ).select(
        "id", "parent",
        F.element_at(F.element_at("properties", "data"), 1).alias("data"),
    )


def q_kg_text_literal_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 spo links: subject → content node, tagged data#Literal (default
    metaproperty encoding)."""
    e = _entities(spark, sf_dir, text_literal_as_node=True)
    tagged = e.filter(
        (F.col("type") == C.LINK)
        & F.col("metaProperties").isNotNull()
        & F.map_contains_key("metaProperties", F.lit(C.DATA_LITERAL_URI))
    )
    subj = F.filter("binds", lambda b: b["role"] == "subject")[0]["comp"]
    obj = F.filter("binds", lambda b: b["role"] == "object")[0]["comp"]
    return tagged.select(
        "id", "connector", "parent", subj.alias("subj"), obj.alias("obj")
    )


def q_kg_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 title selection over the corpus nodes: rdfs:label by language rank
    (nations @en, regions plain), label-from-uri fallback for the rest, PLUS
    per-region entities titled ONLY via the DCTERMS slot
    (<http://purl.org/dc/elements/1.1/title>, dcterms.js:8) — if the engine's
    TITLE_PROPERTIES carried any other IRI in that slot, these rows would
    fall through to the URI-label fallback and flip the hash."""
    from rdf2hk_spark import vocab
    from rdf2hk_spark.functions.titles import entity_title

    e = _entities(spark, sf_dir)
    rk = F.col("r_regionkey").cast("string")
    dct = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        F.concat(F.lit("<urn:hk:dct/"), rk, F.lit(">")).alias("id"),
        F.lit(C.NODE).alias("type"),
        F.lit(None).cast("string").alias("ref"),
        F.create_map(
            F.lit(vocab.DC_TITLE_URI),
            F.array(F.concat(F.lit("dct title "), rk)),
        ).alias("properties"),
    )
    return (
        entity_title(e.filter(F.col("type") == C.NODE))
        .select("id", "title")
        .unionByName(entity_title(dct).select("id", "title"))
    )


def q_kg_context_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 transitive context closure over a synthetic region→nation context
    tree (the corpus's own contexts are flat)."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    rk = F.col("r_regionkey").cast("string")
    nk = F.col("n_nationkey").cast("string")
    ctxs = (
        region.select(
            F.concat(F.lit("<urn:hk:ctx/r/"), rk, F.lit(">")).alias("id"),
            F.lit("<urn:hk:ctx/root>").alias("parent"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("<urn:hk:ctx/n/"), nk, F.lit(">")).alias("id"),
                F.concat(
                    F.lit("<urn:hk:ctx/r/"), F.col("n_regionkey").cast("string"),
                    F.lit(">"),
                ).alias("parent"),
            )
        )
        .unionByName(
            spark.createDataFrame(
                [("<urn:hk:ctx/root>", None)], "id string, parent string"
            )
        )
        .withColumn("type", F.lit(C.CONTEXT))
    )
    return plans_query.context_closure(ctxs, "<urn:hk:ctx/r/1>")


def q_kg_update_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z10/Q6: minimal delete/insert quad delta after renaming every 4th
    nation's label."""
    from rdf2hk_spark.operators import update_diff

    old = _entities(spark, sf_dir)
    key = (sf_dir, "upd")
    new = _ENTITY_CACHE.get(key)
    if new is None:
        quads = tpch_kg.quads_df(spark, sf_dir)
        is_target = (
            (F.col("p") == "<http://www.w3.org/2000/01/rdf-schema#label>")
            & F.col("s").startswith("<urn:hk:nation/")
            & (
                F.regexp_extract("s", "nation/([0-9]+)", 1).cast("long") % 4 == 0
            )
        )
        renamed = quads.withColumn(
            "o",
            F.when(
                is_target, F.regexp_replace("o", '"@en$', '_X"@en')
            ).otherwise(F.col("o")),
        )
        new = parse_quads(renamed, KG_OPTS).localCheckpoint()
        _ENTITY_CACHE[key] = new
    delta = update_diff.update_quads(
        old, new, SerializeOptions(convert_hk=False, default_graph=C.HK_NULL_URI)
    )
    return delta.select("op", "s", "p", "o", "g")


# ---------------------------------------------------------------------------
# training-data-pipeline operators over documents/embeddings
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_doc_dedup_exact(spark, sf_dir):
    """Exact dedup over the corpus plus deterministic seeded duplicates (every
    50th doc re-appears under id+10^6), so the green row verifies real dup
    groups rather than a vacuous empty set."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dupes = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup.exact_duplicates(d.unionByName(dupes))


def q_doc_minhash(spark, sf_dir):
    """Signature computed per-row (shingle array → array_min per hash): no
    shuffle at all, vs the word_shingles ∘ minhash_signatures groupBy path."""
    return dedup.minhash_signature_rows(
        _docs(spark, sf_dir), k=3, num_hashes=16
    )


def q_doc_lsh_pairs(spark, sf_dir):
    """Banding-before-shuffle: band keys computed map-side; the bucket
    groupBy is the FIRST shuffle and carries 4 rows/doc instead of 16."""
    keys = dedup.lsh_band_keys(
        _docs(spark, sf_dir), k=3, num_hashes=16, bands=4, rows_per_band=4
    )
    return dedup.lsh_candidate_pairs_from_keys(keys, max_bucket=50)


_JACCARD_DF_CAP = 100  # max doc-frequency of a shingle used for pair generation


def q_doc_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard for pairs sharing ≥5 *rare* shingles (doc-freq ≤
    cap). The cap bounds the self-join blow-up: a boilerplate shingle shared
    by n docs would otherwise emit n² join rows; capped shingles contribute at
    most cap² each. inter/uni are then computed exactly over ALL shingles of
    the surviving candidate pairs (the LSH path is the scale route, this is
    the oracle-checkable exact op)."""
    # the exploded shingles frame feeds SIX consumers (df-count, both
    # self-join sides, pair sizes, intersect sides) — persist once instead
    # of re-exploding per consumer (measured ~40% of the query's wall);
    # the result is localCheckpoint-ed below so sh can be RELEASED before
    # returning instead of pinning the largest doc-pipeline intermediate
    # for the rest of the driver session
    sh = dedup.word_shingles(_docs(spark, sf_dir), k=3).persist()
    # materialize the cache before AQE submits the consumers' leaf stages
    # concurrently — an unpopulated persist makes each of them re-explode
    # the shingles instead of waiting (same fix as parse_quads' eager count)
    sh.count()
    # Shingle-keyed member lists; candidate pairs explode map-side (bounded
    # by cap² per shingle, exactly the prior bound) — replaces the old
    # df-count groupBy + rare join + self-join (r6; pair set verified
    # identical). The lists come from the SKEW-BOUNDED salted aggregation
    # (dedup.capped_member_lists): a boilerplate shingle with corpus-scale
    # doc frequency never materializes its full membership in one reducer
    # buffer before the df cap drops it. min_n=2 because singleton shingles
    # cannot form a pair — they are dropped before the explode.
    grp = dedup.capped_member_lists(
        sh, ["shingle"], "id", cap=_JACCARD_DF_CAP, min_n=2
    )
    pairs = (
        grp.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count("*").alias("inter"))
        .filter(F.col("inter") >= 5)
        .select("a", "b")
    )
    out = dedup.jaccard_pairs(sh, pairs).localCheckpoint()
    sh.unpersist()
    return out


def q_doc_dup_clusters(spark, sf_dir):
    """Pairs → CLUSTERS: connected components over the LSH candidate-pair
    graph, every member labeled with its component's minimum id (the
    canonical survivor). Engine runs min-label propagation + pointer
    jumping to convergence; the oracle derives the same labeling from a
    recursive reachability closure — iteration-order independent, so the
    hash match certifies the converged fixpoint itself."""
    keys = dedup.lsh_band_keys(
        _docs(spark, sf_dir), k=3, num_hashes=16, bands=4, rows_per_band=4
    )
    pairs = dedup.lsh_candidate_pairs_from_keys(keys, max_bucket=50)
    return dedup.duplicate_clusters(pairs)


def q_doc_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir), bits=16)


def q_ann_cosine_topk(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return similarity.cosine_topk(e, e.filter(F.col("vec_id") < 10), k=5)


def q_ann_lsh_buckets(spark, sf_dir):
    return similarity.lsh_buckets(_embs(spark, sf_dir), planes=8, dim=64)


def q_ann_lsh_topk(spark, sf_dir):
    """LSH approximate top-k end to end: candidates share the query's
    8-plane bucket, exact re-rank within (rank may be < k in thin buckets —
    the approximation, mirrored exactly by the oracle)."""
    e = _embs(spark, sf_dir)
    return similarity.ann_topk_lsh(
        e, e.filter(F.col("vec_id") < 10), k=5, planes=8, dim=64
    )


def q_ann_lsh_multiprobe(spark, sf_dir):
    """Multiprobe LSH top-k: each query visits its own bucket plus the 8
    Hamming-1 flip buckets — recovers the rank that single-bucket
    truncation loses in thin buckets (see test_scale_fixes recall test),
    corpus-side work still bucket-bounded."""
    e = _embs(spark, sf_dir)
    return similarity.ann_topk_lsh(
        e, e.filter(F.col("vec_id") < 10), k=5, planes=8, dim=64,
        probe_bits=8,
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: nearest-centroid cells (16 deterministic
    centroids), 4 probed cells per query, exact re-rank within."""
    e = _embs(spark, sf_dir)
    return similarity.ivf_topk(
        e, e.filter(F.col("vec_id") < 10), k=5, n_cells=16, n_probe=4
    )


def _neardup_corpus(spark, sf_dir) -> DataFrame:
    """Embeddings (as double arrays) + two seeded duplicate families:
    exact copies (id+10^6, cosine 1.0 — always same bucket) and NEAR
    duplicates (id+2·10^6, cosine ≈0.96: a deterministic md5-derived
    perturbation of ‖p‖≈0.29 then re-normalized). At 0.96 one 8-plane LSH
    table catches only ~(1-θ/π)^8 ≈ 47% of the near pairs — the seeded set a
    single-table scheme provably misses and OR-amplification recovers."""
    from rdf2hk_spark.ops.hashing import md5_int

    e = _embs(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    dupes = e.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    near_base = e.filter(F.col("vec_id") % 50 == 25)
    u = F.transform(
        F.sequence(F.lit(0), F.size("embedding") - 1),
        lambda d: md5_int(
            F.concat(F.col("vec_id").cast("string"), F.lit("#"), d.cast("string"))
        ).cast("double") / 1e6 - 0.5,
    )
    raw = F.zip_with(F.col("embedding"), u, lambda x, w: x + F.lit(0.125) * w)
    # staged selects: (a) materialize `raw` as a column so the norm fold and
    # the per-element division don't each re-inline the md5 perturbation
    # (interpreted HOF lambdas re-evaluate subexpressions per element);
    # (b) keep vec_id un-renamed until the last select — the lateral-column-
    # alias resolver would otherwise bind the perturbation's F.col("vec_id")
    # to the shifted id, changing every md5 seed
    with_raw = near_base.select("vec_id", raw.alias("_raw"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("_raw"), lambda x: x * x),
            F.lit(0.0), lambda a, v: a + v,
        )
    )
    with_norm = with_raw.select("vec_id", "_raw", norm.alias("_norm"))
    near = with_norm.select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform(F.col("_raw"), lambda x: x / F.col("_norm")).alias("embedding"),
    )
    out = e.unionByName(dupes).unionByName(near)
    # the corpus feeds tables+2 consumers inside embedding_near_duplicates
    # (4 bucket passes + both sides of the exact verify) — materialize the
    # seeded perturbation once instead of re-evaluating its HOF fold per
    # consumer (measured ~3× on the embed_neardup bench entry)
    key = (sf_dir, "neardup")
    cached = _ENTITY_CACHE.get(key)
    if cached is None:
        cached = out.localCheckpoint()
        _ENTITY_CACHE[key] = cached
    return cached


def q_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup, multi-table (OR-amplified) LSH: 4
    independent 8-plane tables (plane offsets 0/8/16/24), pair-dedup across
    tables, exact cosine ≥ 0.95 verify. The seeded cosine-0.96 near pairs
    (see _neardup_corpus) are largely invisible to any single table."""
    return similarity.embedding_near_duplicates(
        _neardup_corpus(spark, sf_dir), threshold_e4=9500, planes=8, tables=4,
        dim=64,
    )


def q_ann_ivf_trained(spark, sf_dir):
    """IVF top-k with a TRAINED codebook: 2 seeded k-means iterations as
    DataFrame aggregations (fixed-point ×10^4 integer centroids — engine-
    portable), then the same probed re-rank as ann_ivf_topk."""
    e = _embs(spark, sf_dir)
    cb = similarity.ivf_train(e, n_cells=16, iters=2)
    return similarity.ivf_topk(
        e, e.filter(F.col("vec_id") < 10), k=5, n_cells=16, n_probe=4,
        centroids=cb,
    )


def q_kg_from_uris(spark, sf_dir):
    """Q9 fromUris at level 2: the 2-hop neighborhood of nation/0 — links
    touching the frontier plus the entities they bind, connectors included
    in the result but never expanded through."""
    e = _entities(spark, sf_dir)
    return plans_query.from_uris(e, ["<urn:hk:nation/0>"], level=2).select("id")


def q_kg_sparql_select(spark, sf_dir):
    """Q10/Q12 surface: a user SPARQL SELECT (BGP join + numeric and term
    FILTERs) parsed and compiled onto the quads frame by plans/sparql.py."""
    from rdf2hk_spark.plans.sparql import run_sparql

    text = """
      SELECT ?n ?l ?r WHERE {
        ?n <urn:hk:p/inRegion> ?r .
        ?n <http://www.w3.org/2000/01/rdf-schema#label> ?l .
        ?n <urn:hk:p/key> ?k .
        FILTER(?k >= 10 && ?r != <urn:hk:region/1>)
      }
    """
    return run_sparql(tpch_kg.quads_df(spark, sf_dir), text)


def q_kg_sparql_describe(spark, sf_dir):
    """SPARQL DESCRIBE with the VALUES shape fromUris generates: the seed
    node plus everything it points at, as outgoing quads."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "DESCRIBE ?s ?o WHERE { VALUES ?s { <urn:hk:nation/0> } . ?s ?p ?o }",
    )


def q_kg_sparql_construct(spark, sf_dir):
    """SPARQL CONSTRUCT: materialize the inverse relation of inRegion."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "CONSTRUCT { ?r <urn:hk:p/hasNation> ?n } WHERE"
        " { ?n <urn:hk:p/inRegion> ?r }",
    )


def _ctx_tree_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic region→nation context tree as hasParent quads — the shared
    input of the SPARQL path oracles."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nk = F.col("n_nationkey").cast("string")
    rk = F.col("r_regionkey").cast("string")
    p = F.lit("<urn:hk:p/hasParent>")
    g = F.lit("<urn:hk:g/ctx>")
    return nation.select(
        F.col("n_nationkey").cast("long").alias("stmt_idx"),
        F.concat(F.lit("<urn:hk:ctx/n/"), nk, F.lit(">")).alias("s"),
        p.alias("p"),
        F.concat(
            F.lit("<urn:hk:ctx/r/"), F.col("n_regionkey").cast("string"),
            F.lit(">"),
        ).alias("o"),
        g.alias("g"),
    ).unionByName(
        region.select(
            (F.col("r_regionkey").cast("long") + 10_000).alias("stmt_idx"),
            F.concat(F.lit("<urn:hk:ctx/r/"), rk, F.lit(">")).alias("s"),
            p.alias("p"),
            F.lit("<urn:hk:ctx/root>").alias("o"),
            g.alias("g"),
        )
    )


def _ctx_quads_multig(spark, sf_dir):
    """The region→nation context tree SPLIT ACROSS NAMED GRAPHS — each
    region's subtree lives in its own graph <urn:hk:g/ctx/r/{rk}> — the
    input for the per-graph path-closure oracle."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nk = F.col("n_nationkey").cast("string")
    rk = F.col("r_regionkey").cast("string")
    p = F.lit("<urn:hk:p/hasParent>")
    return nation.select(
        F.col("n_nationkey").cast("long").alias("stmt_idx"),
        F.concat(F.lit("<urn:hk:ctx/n/"), nk, F.lit(">")).alias("s"),
        p.alias("p"),
        F.concat(
            F.lit("<urn:hk:ctx/r/"), F.col("n_regionkey").cast("string"),
            F.lit(">"),
        ).alias("o"),
        F.concat(
            F.lit("<urn:hk:g/ctx/r/"), F.col("n_regionkey").cast("string"),
            F.lit(">"),
        ).alias("g"),
    ).unionByName(
        region.select(
            (F.col("r_regionkey").cast("long") + 10_000).alias("stmt_idx"),
            F.concat(F.lit("<urn:hk:ctx/r/"), rk, F.lit(">")).alias("s"),
            p.alias("p"),
            F.lit("<urn:hk:ctx/root>").alias("o"),
            F.concat(F.lit("<urn:hk:g/ctx/r/"), rk, F.lit(">")).alias("g"),
        )
    )


def q_kg_sparql_graph_path(spark, sf_dir):
    """Simple property path UNDER ``GRAPH ?var``: per-graph ``+`` closure
    via composite (g, node) keys (plans.sparql._scan_path) — every
    context reaching <ctx/root> inside its own region graph, with the
    graph bound. The closure must not leak across graphs even though all
    regions share the one <ctx/root> sink."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        _ctx_quads_multig(spark, sf_dir),
        "SELECT ?g ?c WHERE { GRAPH ?g {"
        " ?c <urn:hk:p/hasParent>+ <urn:hk:ctx/root> } }",
    )


def q_kg_sparql_graph_limit(spark, sf_dir):
    """Subquery under GRAPH ?var with ORDER BY + LIMIT: the slice applies
    PER GRAPH via a row_number window on the bound graph key
    (plans.sparql._compile_select_mn) — the 3 lexicographically-first
    customers of each market-segment graph, not a global LIMIT 3."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?g ?c WHERE { GRAPH ?g {"
        " { SELECT ?c WHERE { ?c <urn:hk:p/inNation> ?n }"
        " ORDER BY ?c LIMIT 3 } } }",
    )


def q_kg_sparql_path(spark, sf_dir):
    """Q10 property path: ``?c <hasParent>* <ctx/r/1>`` over the synthetic
    region→nation context tree (the reference's own generated form,
    sparqlfactory.js:800) — the same membership set the kg_context_closure
    oracle derives, here reached through the SPARQL text surface."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        _ctx_tree_quads(spark, sf_dir),
        "SELECT ?c WHERE { ?c <urn:hk:p/hasParent>* <urn:hk:ctx/r/1> }",
    )


def q_kg_sparql_seq(spark, sf_dir):
    """Compound path: sequence + inverse — each nation context paired with
    its SIBLING contexts (same region) via <hasParent>/^<hasParent>,
    excluding self with a FILTER."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        _ctx_tree_quads(spark, sf_dir),
        "SELECT ?a ?b WHERE {"
        " ?a <urn:hk:p/hasParent>/^<urn:hk:p/hasParent> ?b ."
        " FILTER(?a != ?b) }",
    )


def q_kg_sparql_agg(spark, sf_dir):
    """Q10 aggregates: COUNT + MIN with GROUP BY through the SPARQL text
    surface (one groupBy().agg() — map-side partial aggregation)."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?r (COUNT(?n) AS ?n_nations) (MIN(?n) AS ?first_nation)"
        " WHERE { ?n <urn:hk:p/inRegion> ?r } GROUP BY ?r",
    )


def q_kg_sparql_exists(spark, sf_dir):
    """FILTER EXISTS / NOT EXISTS compiled to left-semi / left-anti joins on
    the shared-variable domain: nations that have at least one customer but
    no supplier whose suppkey ends in 7 (the inner FILTER makes the
    anti-set non-trivial at every sf)."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?n ?k WHERE {"
        " ?n <urn:hk:p/key> ?k ."
        " FILTER EXISTS { ?c <urn:hk:p/inNation> ?n }"
        " FILTER NOT EXISTS { ?s <urn:hk:p/fromNation> ?n ."
        ' FILTER(REGEX(?s, "7>$")) } }',
    )


def q_kg_sparql_having_exists(spark, sf_dir):
    """[NOT] EXISTS inside a HAVING boolean: per-nation customer counts,
    kept only when the group key also has a supplier and none of its
    suppliers' ids end in 3 — each existence test becomes a boolean marker
    column over the GROUPED frame (plans.sparql._exists_marker), so EXISTS
    composes with the aggregate comparison like any other boolean."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?n (COUNT(?c) AS ?cnt) WHERE {"
        " ?c <urn:hk:p/inNation> ?n } GROUP BY ?n"
        " HAVING ( ?cnt >= 2"
        " && EXISTS { ?s <urn:hk:p/fromNation> ?n }"
        " && NOT EXISTS { ?s2 <urn:hk:p/fromNation> ?n ."
        ' FILTER(REGEX(?s2, "3>$")) } )',
    )


def q_kg_sparql_minus(spark, sf_dir):
    """MINUS (§18.5 minus-compatibility over the shared ?n domain): typed
    nations minus those in region 1. The disjoint-domain divergence from
    NOT EXISTS is pytest-covered (test_minus_vs_not_exists_divergence)."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?n WHERE {"
        " ?n <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
        " <urn:hk:class/Nation> ."
        " MINUS { ?n <urn:hk:p/inRegion> <urn:hk:region/1> } }",
    )


def q_kg_sparql_bind(spark, sf_dir):
    """BIND feeding a later FILTER plus expression projections: a numeric
    mod-5 bucket (FLOOR arithmetic over the decoded key literal) and a
    CONCAT string projection materialized as a plain-literal term."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?n (?k * 2 + 1 AS ?k2) (CONCAT(?l, \"!\") AS ?bang) WHERE {"
        " ?n <urn:hk:p/key> ?k ."
        " ?n <http://www.w3.org/2000/01/rdf-schema#label> ?l ."
        " BIND(?k - FLOOR(?k / 5) * 5 AS ?m)"
        " FILTER(?m >= 3) }",
    )


def q_kg_sparql_bind_agg(spark, sf_dir):
    """GROUP BY over a BIND-computed bucket with the full aggregate tail:
    COUNT, deterministic GROUP_CONCAT (sorted, custom separator), SAMPLE
    (deterministic MIN)."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?b (COUNT(?n) AS ?cnt)"
        ' (GROUP_CONCAT(?l; SEPARATOR="|") AS ?names)'
        " (SAMPLE(?l) AS ?one) WHERE {"
        " ?n <urn:hk:p/key> ?k ."
        " ?n <http://www.w3.org/2000/01/rdf-schema#label> ?l ."
        " BIND(?k - FLOOR(?k / 5) * 5 AS ?b) } GROUP BY ?b",
    )


def q_kg_sparql_nps(spark, sf_dir):
    """Negated property set with an INVERSE member (§18.2.2.3): over the
    hasParent tree, ``!(<hasParent>|^<nope>)``'s forward branch excludes
    every edge and the inverse branch admits every REVERSED edge — the
    result is exactly the child-of relation."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        _ctx_tree_quads(spark, sf_dir),
        "SELECT ?a ?b WHERE {"
        " ?a !(<urn:hk:p/hasParent>|^<urn:hk:p/nope>) ?b }",
    )


def q_kg_sparql_path_agg(spark, sf_dir):
    """Headline SPARQL plan: alternative-path CLOSURE + join + GROUP BY —
    membership of every entity (customer→nation→region, supplier→nation→
    region, nation→region) rolled up per region through the text surface.
    Exercises _path_pairs (PAlt under +), the semi-naive closure, the
    pair-relation endpoint join, and the aggregate compiler in one plan."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?r (COUNT(?x) AS ?n_members) WHERE {"
        " ?x (<urn:hk:p/inNation>|<urn:hk:p/inRegion>|"
        "<urn:hk:p/fromNation>)+ ?r ."
        " ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
        " <urn:hk:class/Region> . } GROUP BY ?r",
    )


def q_kg_sparql_builtins(spark, sf_dir):
    """FILTER builtins through the text surface: language-range matching on
    the term's tag, CONTAINS over the STR form of an IRI, and a STRLEN
    value expression projected — the common user-query function set."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?s ?l (STRLEN(?l) AS ?len) WHERE {"
        " ?s <http://www.w3.org/2000/01/rdf-schema#label> ?l ."
        ' FILTER(LANGMATCHES(LANG(?l), "en")'
        ' && CONTAINS(STR(?s), "nation")) }',
    )


def q_kg_sparql_graph(spark, sf_dir):
    """GRAPH ?g binding + aggregation: customers per market-segment graph
    (the corpus stores inNation facts in per-segment named graphs) — the
    graph column becomes an ordinary grouping variable; the null-graph
    sentinel never binds."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?g (COUNT(?c) AS ?n_cust) WHERE {"
        " GRAPH ?g { ?c <urn:hk:p/inNation> ?nat } } GROUP BY ?g",
    )


def q_kg_sparql_subquery(spark, sf_dir):
    """Nested ``{ SELECT ... }`` subquery (§18.2.4): per-region nation
    counts computed by an aggregate subquery, joined on its PROJECTED ?r
    against the outer label/type patterns — inner GROUP BY runs before
    the join, non-projected inner variables stay invisible outside."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?r ?l ?cnt WHERE {"
        " ?r <http://www.w3.org/2000/01/rdf-schema#label> ?l ."
        " ?r <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
        " <urn:hk:class/Region> ."
        " { SELECT ?r (COUNT(?n) AS ?cnt)"
        "   WHERE { ?n <urn:hk:p/inRegion> ?r } GROUP BY ?r } }",
    )


def q_kg_sparql_strfns(spark, sf_dir):
    """String/conditional value builtins: SUBSTR, STRAFTER, regex REPLACE
    (every match), and IF over a STRLEN comparison — projected as
    plain-literal terms over the @en nation labels."""
    from rdf2hk_spark.plans.sparql import run_sparql

    return run_sparql(
        tpch_kg.quads_df(spark, sf_dir),
        "SELECT ?s (SUBSTR(STR(?l), 1, 3) AS ?pre)"
        ' (STRAFTER(STR(?l), "A") AS ?aftera)'
        ' (REPLACE(STR(?l), "[AEIOU]", "_") AS ?masked)'
        ' (IF(STRLEN(?l) > 7, "long", "short") AS ?size)'
        " WHERE { ?s <http://www.w3.org/2000/01/rdf-schema#label> ?l ."
        ' FILTER(LANGMATCHES(LANG(?l), "en")) }',
    )


def q_doc_chain_clusters(spark, sf_dir):
    """Adversarial duplicate_clusters shape: a 10k-node PATH graph
    (diameter 10k — the worst case for label propagation). Pointer jumping
    must converge in O(log n) rounds to the shortlex-min survivor '0';
    a linear implementation would hit fixpoint.MAX_ROUNDS instead."""
    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    return dedup.duplicate_clusters(pairs)


def q_kg_pagerank(spark, sf_dir):
    """Fixed-point PageRank (3 iterations, ×10^4 integer ranks — the
    ivf_train reproducibility playbook) over the corpus's resource-link
    graph: entity importance for linking candidate ranking."""
    from rdf2hk_spark.ops.graph import pagerank

    quads = tpch_kg.quads_df(spark, sf_dir)
    edges = (
        quads.filter(F.col("o").startswith("<"))
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
    )
    return pagerank(edges, iters=3).select("node", "rank_e4")


def q_evt_windowed_counts(spark, sf_dir):
    """Tumbling 10-minute window counts per event_type over the events
    stream table — the batch twin of the streaming watermark+window path.
    window_start is emitted as a wall-clock STRING: formatting an NTZ value
    never consults the session timezone, so the comparison holds whatever
    timezone the driver's own SparkSession runs in (unix_timestamp would
    shift with spark.sql.session.timeZone)."""
    from rdf2hk_spark.ops import events as ev

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.windowed_event_counts(e, "10 minutes").select(
        F.date_format(F.col("window_start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n",
    )


def q_evt_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): one shuffle by user
    feeding the lag/cumsum window pair and the per-session rollup."""
    from rdf2hk_spark.ops import events as ev

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.sessionize(e, gap_minutes=30)


def q_doc_token_stats(spark, sf_dir):
    return textstats.token_stats(_docs(spark, sf_dir))


def _messy_docs(spark, sf_dir):
    """The documents table with every space deterministically doubled into
    a tab+space run — real-web-corpus whitespace (tabs, runs) that the
    'simple' single-space tokenizer would mis-split into empty tokens, but
    the 'ws' (\\s+) tokenizer handles; both engines derive it identically."""
    return _docs(spark, sf_dir).withColumn(
        "text", F.regexp_replace(F.col("text"), " ", "\t ")
    )


def q_doc_token_stats_ws(spark, sf_dir):
    """token_stats under the whitespace-RUN tokenizer over messy text: the
    \\s+ token count matches the clean corpus's word count even though the
    text now carries tab+space runs."""
    return textstats.token_stats(_messy_docs(spark, sf_dir), tokenizer="ws")


def q_doc_minhash_ws(spark, sf_dir):
    """MinHash signatures under the ws tokenizer over messy text: shingles
    (and therefore signatures) must be IDENTICAL to the clean-text simple-
    tokenizer run — whitespace normalization is exactly what makes near-dup
    detection robust to reformatted copies."""
    return dedup.minhash_signature_rows(
        _messy_docs(spark, sf_dir), k=3, num_hashes=16, tokenizer="ws"
    )


def q_doc_quality(spark, sf_dir):
    return textstats.quality_stats(_docs(spark, sf_dir))


def q_doc_langid(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    return textstats.fingerprints(_docs(spark, sf_dir), k=5)


def q_doc_repetition(spark, sf_dir):
    """Gopher-style within-doc repetition signals (top-2gram mass,
    duplicate-word mass), integer-exact."""
    return textstats.repetition_stats(_docs(spark, sf_dir), n=2)


def q_doc_decontam(spark, sf_dir):
    """Benchmark decontamination (the GPT-3/Llama hygiene pass): docs from
    source 'src0' act as the held-out eval set; every OTHER doc is flagged
    when it shares any word 8-gram with that set. The eval gram set is
    broadcast, so the corpus side never shuffles on gram content
    (ops.decontam)."""
    from rdf2hk_spark.ops import decontam

    d = _docs(spark, sf_dir)
    return decontam.decontaminate(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        n=8,
    )


def _lined_docs(spark, sf_dir):
    """documents re-chunked into 8-token '\\n'-joined LINES plus seeded
    boilerplate (a cookie-banner line prepended to every 3rd doc, a
    license line appended to every 4th) — deterministic on both engines —
    so the line-dedup pass has real cross-doc line structure to remove
    (the synthetic corpus is single-line with no repeated aligned
    chunks)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    lined = F.array_join(
        F.transform(
            F.sequence(
                F.lit(0), F.floor((F.size("w") - 1) / 8).cast("int")
            ),
            lambda i: F.array_join(F.slice("w", i * 8 + 1, 8), " "),
        ),
        "\n",
    )
    return d.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("accept cookies to continue\n"),
            ).otherwise(F.lit("")),
            lined,
            F.when(
                F.col("doc_id") % 4 == 0, F.lit("\nall rights reserved")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_doc_line_dedup(spark, sf_dir):
    """CCNet-style duplicate-line removal: any line appearing in >= 2
    distinct docs (the seeded boilerplate, plus any natural aligned-chunk
    collision) is dropped from every doc; per-doc reassembly preserves
    line order (ops.dedup.line_dedup — two keyed shuffles, line-hash then
    doc id)."""
    return dedup.line_dedup(_lined_docs(spark, sf_dir), min_docs=2)


def _pii_docs(spark, sf_dir):
    """documents with deterministic seeded PII: email+IPv4 appended for
    doc_id % 3 == 0, a phone number for doc_id % 5 == 0 (both engines
    derive the same strings, and docs with NO pii stay present to prove
    the zero rows)."""
    did = F.col("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@mail.example.com from 10.0."),
                    (did % 250).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" call +1 555-123-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_doc_pii(spark, sf_dir):
    """PII counting + redaction over the seeded corpus: engine-portable
    regexes (java.util.regex == RE2 on this subset), counts on the
    original text, typed placeholders applied email -> ip -> phone
    (ops.pii). Pure map — zero shuffles."""
    from rdf2hk_spark.ops import pii

    return pii.pii_redact(_pii_docs(spark, sf_dir))


def q_doc_top_ngrams(spark, sf_dir):
    """Corpus-wide top-25 word trigrams (count desc, gram asc — a total
    order, so the k-cut is deterministic): one gram-keyed shuffle with
    map-side partial aggregation, then TakeOrderedAndProject
    (ops.textstats.top_ngrams)."""
    return textstats.top_ngrams(_docs(spark, sf_dir), n=3, k=25)


def q_doc_tfidf_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms, integer-exact (IDF = N*1000 // df,
    no float log on either engine); rank = row_number over (score desc,
    term asc) — a total order so the k-cut is deterministic. Three keyed
    shuffles: tf groupBy, df re-aggregation of the collapsed (doc, term)
    rows, doc-keyed top-k window (ops.textstats.tfidf_top_terms)."""
    return textstats.tfidf_top_terms(_docs(spark, sf_dir), k=3)


# the shared passage seeded for window dedup — 13 tokens, lowercase, so
# every 7th doc carries 6 cross-doc-duplicated 8-token windows (plus the
# boundary-straddling windows, which differ per doc and must NOT count)
_WINSEED = (
    " copyright notice all rights reserved contact the site"
    " admin team for removal requests"
)


def _winseed_docs(spark, sf_dir):
    """documents with the shared _WINSEED passage appended to every 7th
    doc (both engines derive it identically) — real cross-document
    duplicated PASSAGES for the substring-window dedup to find (the
    synthetic corpus alone has few natural aligned 8-grams)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_WINSEED)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def q_doc_window_dedup(spark, sf_dir):
    """Exact substring-window dedup (Lee et al. ExactSubstr, window-hash
    form): 8-token windows hashed; a window seen in >= 2 DISTINCT docs is
    duplicated text; per-doc duplicated-window occurrence counts + ratio.
    Two keyed shuffles (window hash with map-side within-doc dedup, then
    doc id) — ops.dedup.window_dedup."""
    return dedup.window_dedup(_winseed_docs(spark, sf_dir), k=8, min_docs=2)


def _c4_lined_docs(spark, sf_dir):
    """documents re-chunked into 8-token lines with deterministic
    terminal punctuation (line i gets '.' when i%3==0, '!' when i%3==1,
    nothing otherwise), a javascript/cookie banner line prepended to
    every 4th doc and a too-short 'ok.' line appended to every 5th — one
    seeded victim per C4 line rule, identical on both engines."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    lined = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.floor((F.size("w") - 1) / 8).cast("int")),
            lambda i: F.concat(
                F.array_join(F.slice("w", i * 8 + 1, 8), " "),
                F.when(i % 3 == 0, F.lit("."))
                .when(i % 3 == 1, F.lit("!"))
                .otherwise(F.lit("")),
            ),
        ),
        "\n",
    )
    return d.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("please enable javascript and accept cookies.\n"),
            ).otherwise(F.lit("")),
            lined,
            F.when(F.col("doc_id") % 5 == 0, F.lit("\nok.")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def q_doc_c4_lines(spark, sf_dir):
    """C4 line filter: keep lines ending in terminal punctuation with >= 5
    words and no javascript/cookie mention; reassemble survivors in order.
    Pure per-row array HOFs — zero shuffles (ops.c4.c4_line_filter)."""
    from rdf2hk_spark.ops import c4

    return c4.c4_line_filter(_c4_lined_docs(spark, sf_dir), min_words=5)


def _c4doc_docs(spark, sf_dir):
    """documents with deterministic page-level C4 tripwires: doc_id%6
    sentence terminators appended, a curly-brace code fragment for every
    11th doc, a lorem-ipsum fragment for every 13th."""
    did = F.col("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(F.lit("."), (did % 6).cast("int")),
            F.when(did % 11 == 0, F.lit(" { function()")).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit(" lorem ipsum dolor")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def q_doc_c4_filter(spark, sf_dir):
    """C4 page filter: sentence-count / word-band / brace / lorem-ipsum
    verdicts as BIGINT flags + final keep. Pure scan-speed Column exprs,
    zero shuffles (ops.c4.c4_doc_filter)."""
    from rdf2hk_spark.ops import c4

    return c4.c4_doc_filter(
        _c4doc_docs(spark, sf_dir), min_sentences=3, min_words=5
    )


def _url_docs(spark, sf_dir):
    """documents with deterministic synthetic URLs: scheme alternates,
    every 9th has userinfo@, every 5th a www. prefix, host h{id%17} under
    registrable domain site{id%7}.com, every 9th+1 a port, every 3rd a
    query string — and every 19th doc gets a NON-URL string (host
    extraction must yield '' for it). Both engines derive it identically."""
    did = F.col("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        "lang",
        F.when(did % 19 == 0, F.lit("not a url")).otherwise(
            F.concat(
                F.when(did % 2 == 0, F.lit("https://")).otherwise(
                    F.lit("http://")
                ),
                F.when(did % 9 == 0, F.lit("user:pw@")).otherwise(F.lit("")),
                F.when(did % 5 == 0, F.lit("www.")).otherwise(F.lit("")),
                F.lit("h"),
                (did % 17).cast("string"),
                F.lit(".site"),
                (did % 7).cast("string"),
                F.lit(".com"),
                F.when(did % 9 == 1, F.lit(":8080")).otherwise(F.lit("")),
                F.lit("/p/"),
                did.cast("string"),
                F.when(did % 3 == 0, F.lit("?ref=rss")).otherwise(F.lit("")),
            )
        ).alias("url"),
    )


def q_doc_domain_stats(spark, sf_dir):
    """Per-registrable-domain rollup over synthetic URLs (host via
    portable regex, domain = last two labels): n_docs / n_hosts / n_langs
    / sum_chars / mean_chars_x100. One counters-only groupBy shuffle
    (ops.webstats.domain_stats)."""
    from rdf2hk_spark.ops import webstats

    return webstats.domain_stats(_url_docs(spark, sf_dir))


# per-source training-mixture keep rates (per-mille); unlisted fall back
_MIX_RATES = {
    "src0": 1000,
    "src1": 500,
    "src2": 500,
    "src3": 250,
    "src4": 250,
    "src5": 125,
}
_MIX_DEFAULT = 100


def q_doc_mixture_sample(spark, sf_dir):
    """Deterministic hash-based training-mixture sampling: keep each doc
    iff md5(doc_id) per-mille draw < its source's rate — rerun/retry/
    engine-stable (no RNG), compiled to a pushed-down scan predicate
    (ops.sampling.mixture_sample)."""
    from rdf2hk_spark.ops import sampling

    return sampling.mixture_sample(
        _docs(spark, sf_dir).select("doc_id", "source"),
        _MIX_RATES,
        key_col="doc_id",
        stratum_col="source",
        default_x1000=_MIX_DEFAULT,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_connectors": q_kg_connectors,
        "kg_contexts": q_kg_contexts,
        "kg_nodes": q_kg_nodes,
        "kg_links": q_kg_links,
        "kg_properties": q_kg_properties,
        "kg_metaproperties": q_kg_metaproperties,
        "kg_refs": q_kg_refs,
        "kg_entity_counts": q_kg_entity_counts,
        "kg_roundtrip": q_kg_roundtrip,
        "kg_filter_links": q_kg_filter_links,
        "kg_remove_cascade": q_kg_remove_cascade,
        "kg_text_literal_nodes": q_kg_text_literal_nodes,
        "kg_text_literal_links": q_kg_text_literal_links,
        "kg_hk_shells": q_kg_hk_shells,
        "kg_owl_restrictions": q_kg_owl_restrictions,
        "kg_owl_connectors": q_kg_owl_connectors,
        "kg_owl_roundtrip": q_kg_owl_roundtrip,
        "kg_time_anchors": q_kg_time_anchors,
        "kg_time_links": q_kg_time_links,
        "kg_titles": q_kg_titles,
        "kg_context_closure": q_kg_context_closure,
        "kg_update_delta": q_kg_update_delta,
        "doc_dedup_exact": q_doc_dedup_exact,
        "doc_minhash": q_doc_minhash,
        "doc_lsh_pairs": q_doc_lsh_pairs,
        "doc_jaccard": q_doc_jaccard,
        "doc_dup_clusters": q_doc_dup_clusters,
        "doc_simhash": q_doc_simhash,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_trained": q_ann_ivf_trained,
        "embed_neardup": q_embed_neardup,
        "kg_from_uris": q_kg_from_uris,
        "kg_sparql_select": q_kg_sparql_select,
        "kg_sparql_describe": q_kg_sparql_describe,
        "kg_sparql_construct": q_kg_sparql_construct,
        "kg_sparql_path": q_kg_sparql_path,
        "kg_sparql_seq": q_kg_sparql_seq,
        "kg_sparql_agg": q_kg_sparql_agg,
        "kg_sparql_exists": q_kg_sparql_exists,
        "kg_sparql_having_exists": q_kg_sparql_having_exists,
        "kg_sparql_minus": q_kg_sparql_minus,
        "kg_sparql_bind": q_kg_sparql_bind,
        "kg_sparql_bind_agg": q_kg_sparql_bind_agg,
        "kg_sparql_nps": q_kg_sparql_nps,
        "kg_sparql_path_agg": q_kg_sparql_path_agg,
        "kg_sparql_builtins": q_kg_sparql_builtins,
        "kg_sparql_graph": q_kg_sparql_graph,
        "kg_sparql_graph_path": q_kg_sparql_graph_path,
        "kg_sparql_graph_limit": q_kg_sparql_graph_limit,
        "kg_sparql_subquery": q_kg_sparql_subquery,
        "kg_sparql_strfns": q_kg_sparql_strfns,
        "doc_chain_clusters": q_doc_chain_clusters,
        "kg_pagerank": q_kg_pagerank,
        "evt_windowed_counts": q_evt_windowed_counts,
        "evt_sessions": q_evt_sessions,
        "doc_token_stats": q_doc_token_stats,
        "doc_token_stats_ws": q_doc_token_stats_ws,
        "doc_minhash_ws": q_doc_minhash_ws,
        "doc_quality": q_doc_quality,
        "doc_langid": q_doc_langid,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_repetition": q_doc_repetition,
        "doc_decontam": q_doc_decontam,
        "doc_line_dedup": q_doc_line_dedup,
        "doc_pii": q_doc_pii,
        "doc_top_ngrams": q_doc_top_ngrams,
        "doc_window_dedup": q_doc_window_dedup,
        "doc_c4_lines": q_doc_c4_lines,
        "doc_c4_filter": q_doc_c4_filter,
        "doc_domain_stats": q_doc_domain_stats,
        "doc_mixture_sample": q_doc_mixture_sample,
        "doc_tfidf_terms": q_doc_tfidf_terms,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles — independent SQL re-derivations over the same corpus
# ---------------------------------------------------------------------------

_Q = tpch_kg.QUADS_CTE

# word 8-gram over a DuckDB token list `w` at index `i` (decontam oracle)
_GRAM8 = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(8))

# the exact engine regexes (ops.pii) — valid under BOTH java.util.regex and
# RE2 with identical semantics (no backreferences/lookaround)
from rdf2hk_spark.ops.pii import (  # noqa: E402
    EMAIL_RE as _PII_EMAIL,
    IPV4_RE as _PII_IPV4,
    PHONE_RE as _PII_PHONE,
)
from rdf2hk_spark.ops.c4 import (  # noqa: E402
    LINE_BAD_RE as _C4_BAD,
    TERMINAL_RE as _C4_TERM,
)
from rdf2hk_spark.ops.hashing import md5_int_sql as _md5_int_sql  # noqa: E402
from rdf2hk_spark.ops.webstats import HOST_RE as _HOST_RE  # noqa: E402

# SQL-escaped regexes for the C4 oracles (the terminal rule contains a ')
_C4_TERM_SQL = _C4_TERM.replace("'", "''")
_C4_BAD_SQL = _C4_BAD.replace("'", "''")
# per-source mixture keep-rate as a CASE literal (same constants as the
# engine's when-chain) and the engine's exact per-mille hash draw
_MIX_CASE_SQL = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {r}" for s, r in sorted(_MIX_RATES.items()))
    + f" ELSE {_MIX_DEFAULT} END"
)
_MIX_DRAW_SQL = _md5_int_sql("doc_id::VARCHAR", 6) + " % 1000"
_ESC_G = tpch_kg.ESC.format(x="l.g")
_ESC_S = tpch_kg.ESC.format(x="l.s")

# first-wins node parents (A3): subjects before objects within a statement;
# NULL parent encoded as '' so arg_min can't skip it
_NODES_CTE = f"""
occ AS (
  SELECT s AS id,
         CASE WHEN g = '<hk://id/null>' THEN '' ELSE g END AS parent,
         stmt_idx * 2 AS ord
  FROM quads
  UNION ALL
  SELECT o,
         CASE WHEN g = '<hk://id/null>' OR g = o THEN '' ELSE g END,
         stmt_idx * 2 + 1
  FROM quads WHERE substr(o, 1, 1) = '<'
),
taken AS (
  SELECT DISTINCT p AS id FROM quads WHERE substr(o, 1, 1) = '<'
  UNION
  SELECT DISTINCT g FROM quads WHERE g <> '<hk://id/null>'
),
node_parent AS (
  SELECT occ.id, NULLIF(arg_min(occ.parent, occ.ord), '') AS parent
  FROM occ LEFT JOIN taken ON occ.id = taken.id
  WHERE taken.id IS NULL
  GROUP BY occ.id
)
"""

_LITS_CTE = f"""
lits AS (SELECT * FROM quads WHERE substr(o, 1, 1) <> '<'),
resolved AS (
  SELECT CASE WHEN l.g = '<hk://id/null>' THEN l.s
              WHEN np.parent IS NOT DISTINCT FROM l.g THEN l.s
              ELSE '<hk://ref/' || md5({_ESC_G} || '/' || {_ESC_S}) || '>'
         END AS id,
         (l.g <> '<hk://id/null>' AND np.parent IS DISTINCT FROM l.g) AS is_ref,
         l.s AS src, l.g AS gg, l.p AS prop, l.o AS o, l.stmt_idx AS stmt_idx,
         np.parent AS subj_parent
  FROM lits l LEFT JOIN node_parent np ON np.id = l.s
)
"""

# A7 text literals: literal statements whose value stays a JS string — in this
# corpus every typed literal is a numeric xsd:integer (converted to a number),
# so text = lang-tagged (value keeps the '"v"@lang' form) + plain strings.
# ep = the target entity's parent: the statement graph for refs, the subject
# node's own parent for direct attaches.
_TEXT_CTE = """
txt AS (
  SELECT r.id AS target_id,
         CASE WHEN r.is_ref THEN r.gg ELSE r.subj_parent END AS ep,
         r.prop AS prop, r.stmt_idx AS stmt_idx,
         CASE WHEN r.o LIKE '%@en' THEN r.o
              ELSE substr(r.o, 2, length(r.o) - 2) END AS value
  FROM resolved r
  WHERE substr(r.o, length(r.o), 1) <> '>'
)
"""


# shared SQL pieces for the documents/embeddings oracles
# ws-tokenizer twin over deterministically-messied text (doc_*_ws oracles):
# every space becomes a tab+space RUN; \s+ splitting recovers the original
# token stream, so ws-mode shingles equal the clean simple-mode shingles
_DOC_SH_WS = r"""
docs_m AS (
  SELECT doc_id, replace(text, ' ', chr(9) || ' ') AS text FROM documents
),
t AS (
  SELECT doc_id AS id,
         CASE WHEN length(trim(lower(text))) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS w
  FROM docs_m
),
sh AS (
  SELECT DISTINCT id, s AS shingle FROM (
    SELECT id, unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
    FROM t) x
)
"""

_DOC_SH = """
t AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT id, s AS shingle FROM (
    SELECT id, unnest(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
    FROM t) x
)
"""

# MinHash universal-hash family (ops/dedup.py minhash_perm_consts): one md5
# per shingle yields TWO 9-digit base integers (disjoint digit windows),
# 16 linear permutations (a·h0 + b·h1 + c) mod P — the same python-computed
# constants are baked into both engines' plans. Two windows, not one: a
# single-h0 collision made two shingles identical under every permutation.
_MH_A, _MH_B, _MH_C = dedup.minhash_perm_consts(16)
_MH_VALUES = ", ".join(
    f"({i}, {_MH_A[i]}, {_MH_B[i]}, {_MH_C[i]})" for i in range(16)
)
from rdf2hk_spark.ops.hashing import md5_int_sql as _md5_int_sql

_H0_SQL = _md5_int_sql("shingle", 9)
_H1_SQL = _md5_int_sql("shingle", 9, offset=9)

_MINHASH_CTE = f"""
mh AS (
  SELECT id, hidx, min((a * h0 + b * h1 + c) % {dedup.MINHASH_P}) AS minh
  FROM (SELECT id, {_H0_SQL} AS h0, {_H1_SQL} AS h1 FROM sh) x
  CROSS JOIN (VALUES {_MH_VALUES}) t(hidx, a, b, c)
  GROUP BY id, hidx
)
"""

_BANDS_CTE = """
keys AS (
  SELECT id, hidx // 4 AS band,
         md5(string_agg(hidx::VARCHAR || ':' || minh::VARCHAR, '|'
                        ORDER BY hidx::VARCHAR || ':' || minh::VARCHAR)) AS bkey
  FROM mh GROUP BY id, hidx // 4
),
bsz AS (SELECT band, bkey, count(*) AS n FROM keys GROUP BY band, bkey)
"""

# deterministic hyperplane weight w(p, d) as an integer in [0, 10^6)
_W_PD = (
    "CAST(substr(regexp_replace(md5(p::VARCHAR || ',' || (d-1)::VARCHAR),"
    " '[a-f]', '', 'g') || '000000', 1, 6) AS BIGINT)"
)

# per-dimension perturbation integer for the seeded near-duplicates
_U_ID_D = _md5_int_sql("id::VARCHAR || '#' || (d-1)::VARCHAR", 6)


def _ivf_assign_sql(cents: str) -> str:
    """Nearest-centroid assignment (max dot, ties to lowest cell)."""
    return f"""SELECT id, cell FROM (
                SELECT e.id, c.cell,
                       row_number() OVER (PARTITION BY e.id
                         ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell
                       ) AS rn
                FROM e CROSS JOIN {cents} c) WHERE rn = 1"""


def _ivf_means_sql(asg: str) -> str:
    """Fixed-point (×10^4 integer) per-dimension centroid means."""
    return f"""SELECT a.cell, dd.d,
                      CAST(round(avg(e.v[dd.d]) * 10000) AS BIGINT) AS m
               FROM {asg} a JOIN e ON e.id = a.id CROSS JOIN dims dd
               GROUP BY a.cell, dd.d"""


def oracle_sql() -> dict[str, str]:
    return {
        "kg_connectors": f"""
            WITH {_Q}
            SELECT p AS id,
                   CASE WHEN p = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
                        THEN 'h' ELSE 'f' END AS class_name
            FROM quads WHERE substr(o, 1, 1) = '<'
            GROUP BY p
        """,
        "kg_contexts": f"""
            WITH {_Q}
            SELECT DISTINCT g AS id FROM quads WHERE g <> '<hk://id/null>'
        """,
        "kg_nodes": f"""
            WITH {_Q}, {_NODES_CTE}
            SELECT id, parent FROM node_parent
        """,
        "kg_links": f"""
            WITH {_Q}
            SELECT '<hk://link/' || md5(s || p || o || g) || '>' AS id,
                   p AS connector,
                   CASE WHEN g = '<hk://id/null>' THEN NULL ELSE g END AS parent,
                   s AS subj, o AS obj
            FROM quads WHERE substr(o, 1, 1) = '<'
        """,
        "kg_properties": f"""
            WITH {_Q}, {_NODES_CTE}, {_LITS_CTE}
            SELECT id, prop,
                   (row_number() OVER (PARTITION BY id, prop ORDER BY stmt_idx)
                    - 1)::INTEGER AS idx,
                   CASE WHEN o LIKE '%@en' THEN o
                        WHEN substr(o, length(o), 1) = '>'
                        THEN regexp_extract(o, '^"([0-9]+)"', 1)
                        ELSE substr(o, 2, length(o) - 2)
                   END AS value
            FROM resolved
        """,
        "kg_metaproperties": f"""
            WITH {_Q}, {_NODES_CTE}, {_LITS_CTE}
            SELECT id, prop,
                   (row_number() OVER (PARTITION BY id, prop ORDER BY stmt_idx)
                    - 1)::INTEGER AS idx,
                   '<http://www.w3.org/2001/XMLSchema#integer>' AS mval
            FROM resolved
            WHERE substr(o, length(o), 1) = '>'
        """,
        "kg_refs": f"""
            WITH {_Q}, {_NODES_CTE}, {_LITS_CTE}
            SELECT DISTINCT id, src AS ref, gg AS parent
            FROM resolved WHERE is_ref
        """,
        "kg_entity_counts": f"""
            WITH {_Q}, {_NODES_CTE}, {_LITS_CTE},
            counts AS (
              SELECT 'connector' AS etype, count(DISTINCT p) AS n
              FROM quads WHERE substr(o, 1, 1) = '<'
              UNION ALL
              SELECT 'context', count(DISTINCT g) FROM quads
              WHERE g <> '<hk://id/null>'
              UNION ALL
              SELECT 'node', count(*) FROM node_parent
              UNION ALL
              SELECT 'link', count(*) FROM quads WHERE substr(o, 1, 1) = '<'
              UNION ALL
              SELECT 'ref', count(DISTINCT id) FROM resolved WHERE is_ref
            )
            SELECT etype, n::BIGINT AS n FROM counts
        """,
        "kg_roundtrip": f"""
            WITH {_Q}
            SELECT s, p, o, g FROM quads
        """,
        "kg_filter_links": f"""
            WITH {_Q}
            SELECT '<hk://link/' || md5(s || p || o || g) || '>' AS id,
                   g AS parent
            FROM quads WHERE p = '<urn:hk:p/inNation>'
        """,
        "kg_remove_cascade": f"""
            WITH {_Q}, {_NODES_CTE}, {_LITS_CTE},
            ids AS (
              SELECT DISTINCT p AS id FROM quads WHERE substr(o, 1, 1) = '<'
              UNION
              SELECT DISTINCT g FROM quads WHERE g <> '<hk://id/null>'
              UNION
              SELECT id FROM node_parent
              UNION
              SELECT '<hk://link/' || md5(s || p || o || g) || '>'
              FROM quads WHERE substr(o, 1, 1) = '<'
              UNION
              SELECT DISTINCT id FROM resolved WHERE is_ref
            )
            SELECT id FROM ids
            WHERE id <> '<urn:hk:nation/0>'
              AND id NOT IN (
                SELECT '<hk://link/' || md5(s || p || o || g) || '>'
                FROM quads
                WHERE substr(o, 1, 1) = '<'
                  AND (s = '<urn:hk:nation/0>' OR o = '<urn:hk:nation/0>')
              )
        """,
        "kg_hk_shells": """
            SELECT '<urn:hk:hk/' || n_nationkey || '>' AS id,
                   CASE WHEN n_nationkey % 2 = 0 THEN 'node'
                        ELSE 'context' END AS etype,
                   '<urn:hk:g/hkv>' AS parent,
                   NULL::VARCHAR AS connector
            FROM nation
            UNION ALL
            SELECT '<urn:hk:hklink/' || n_nationkey || '>', 'link',
                   '<urn:hk:g/hkv>', '<urn:hk:p/inRegion>'
            FROM nation
        """,
        "kg_owl_restrictions": """
            SELECT '<hk://link/' || md5('_:rp' || p_partkey::VARCHAR
                   || '<http://www.w3.org/2002/07/owl#Restriction>'
                   || 'owl:restriction' || '<urn:hk:g/owl>') || '>' AS id,
                   '<urn:hk:g/owl>' AS parent,
                   '<urn:hk:p/hasBrand>' AS on_prop,
                   '<urn:hk:brand/' || p_brand || '>' AS some_v
            FROM part WHERE p_partkey % 50 = 0
        """,
        "kg_owl_connectors": """
            SELECT * FROM (VALUES
              ('<urn:hk:p/hasBrand>',
               '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>', 0,
               '<http://www.w3.org/2002/07/owl#ObjectProperty>'),
              ('<urn:hk:p/hasBrand>',
               '<http://www.w3.org/2002/07/owl#inverseOf>', 0,
               '<urn:hk:p/brandOf>'),
              ('<urn:hk:p/hasBrand>',
               '<http://www.w3.org/2000/01/rdf-schema#domain>', 0,
               '<urn:hk:part>'),
              ('<urn:hk:p/hasBrand>',
               '<http://www.w3.org/2000/01/rdf-schema#range>', 0,
               '<urn:hk:brand>'),
              ('<http://www.w3.org/2002/07/owl#Restriction>',
               '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>', 0,
               '<http://www.w3.org/2002/07/owl#Restriction>')
            ) AS t(id, prop, idx, value)
        """,
        "kg_owl_roundtrip": f"""
            WITH {_Q}
            SELECT s, p, o, g FROM quads
            UNION ALL
            SELECT '<urn:hk:p/brand' || p_partkey || '>',
                   '<http://www.w3.org/2000/01/rdf-schema#domain>',
                   '<urn:hk:part>', '<urn:hk:g/sowl>'
            FROM part WHERE p_partkey % 50 = 0
            UNION ALL
            SELECT '<urn:hk:p/brand' || p_partkey || '>',
                   '<http://www.w3.org/2000/01/rdf-schema#range>',
                   '<urn:hk:brand/' || p_brand || '>', '<urn:hk:g/sowl>'
            FROM part WHERE p_partkey % 50 = 0
            UNION ALL
            SELECT '<urn:hk:p/brand' || p_partkey || '>',
                   '<http://www.w3.org/2002/07/owl#inverseOf>',
                   '<urn:hk:p/brandOf' || p_partkey || '>', '<urn:hk:g/sowl>'
            FROM part WHERE p_partkey % 50 = 0
            UNION ALL
            SELECT '<urn:hk:p/brand' || p_partkey || '>',
                   '<http://www.w3.org/2002/07/owl#hasValue>',
                   '"' || p_size
                       || '"^^<http://www.w3.org/2001/XMLSchema#integer>',
                   '<urn:hk:g/sowl>'
            FROM part WHERE p_partkey % 50 = 0
        """,
        "kg_sparql_select": f"""
            WITH {_Q}
            SELECT a.s AS n, b.o AS l, a.o AS r
            FROM quads a
            JOIN quads b ON b.s = a.s
             AND b.p = '<http://www.w3.org/2000/01/rdf-schema#label>'
            JOIN quads c ON c.s = a.s AND c.p = '<urn:hk:p/key>'
            WHERE a.p = '<urn:hk:p/inRegion>'
              AND a.o <> '<urn:hk:region/1>'
              AND CAST(regexp_extract(c.o, '^"([0-9]+)"', 1) AS DOUBLE) >= 10
        """,
        "kg_sparql_describe": f"""
            WITH {_Q},
            ids AS (
              SELECT '<urn:hk:nation/0>' AS id
              UNION
              SELECT o FROM quads WHERE s = '<urn:hk:nation/0>'
            )
            SELECT s, p, o, g FROM quads WHERE s IN (SELECT id FROM ids)
        """,
        "kg_sparql_construct": f"""
            WITH {_Q}
            SELECT DISTINCT o AS s, '<urn:hk:p/hasNation>' AS p, s AS o
            FROM quads WHERE p = '<urn:hk:p/inRegion>'
        """,
        "kg_sparql_path": """
            WITH RECURSIVE edges AS (
              SELECT '<urn:hk:ctx/n/' || n_nationkey || '>' AS src,
                     '<urn:hk:ctx/r/' || n_regionkey || '>' AS dst
              FROM nation
              UNION ALL
              SELECT '<urn:hk:ctx/r/' || r_regionkey || '>',
                     '<urn:hk:ctx/root>'
              FROM region
            ),
            reach AS (
              SELECT '<urn:hk:ctx/r/1>' AS c
              UNION
              SELECT e.src FROM edges e JOIN reach r ON e.dst = r.c
            )
            SELECT c FROM reach
        """,
        "kg_sparql_seq": """
            WITH ed AS (
              SELECT '<urn:hk:ctx/n/' || n_nationkey || '>' AS src,
                     '<urn:hk:ctx/r/' || n_regionkey || '>' AS dst
              FROM nation
              UNION ALL
              SELECT '<urn:hk:ctx/r/' || r_regionkey || '>',
                     '<urn:hk:ctx/root>'
              FROM region
            )
            SELECT DISTINCT x.src AS a, y.src AS b
            FROM ed x JOIN ed y ON x.dst = y.dst
            WHERE x.src <> y.src
        """,
        "kg_sparql_agg": f"""
            WITH {_Q}
            SELECT o AS r, count(*)::BIGINT AS n_nations,
                   min(s) AS first_nation
            FROM quads WHERE p = '<urn:hk:p/inRegion>'
            GROUP BY o
        """,
        "kg_sparql_exists": f"""
            WITH {_Q}
            SELECT k.s AS n, k.o AS k
            FROM quads k
            WHERE k.p = '<urn:hk:p/key>'
              AND EXISTS (SELECT 1 FROM quads c
                          WHERE c.p = '<urn:hk:p/inNation>' AND c.o = k.s)
              AND NOT EXISTS (SELECT 1 FROM quads s2
                              WHERE s2.p = '<urn:hk:p/fromNation>'
                                AND s2.o = k.s
                                AND regexp_matches(s2.s, '7>$'))
        """,
        "kg_sparql_having_exists": f"""
            WITH {_Q}
            SELECT c.o AS n, count(*)::BIGINT AS cnt
            FROM quads c
            WHERE c.p = '<urn:hk:p/inNation>'
            GROUP BY c.o
            HAVING count(*) >= 2
               AND EXISTS (SELECT 1 FROM quads s
                           WHERE s.p = '<urn:hk:p/fromNation>'
                             AND s.o = c.o)
               AND NOT EXISTS (SELECT 1 FROM quads s2
                               WHERE s2.p = '<urn:hk:p/fromNation>'
                                 AND s2.o = c.o
                                 AND regexp_matches(s2.s, '3>$'))
        """,
        "kg_sparql_minus": f"""
            WITH {_Q}
            SELECT t.s AS n
            FROM quads t
            WHERE t.p = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
              AND t.o = '<urn:hk:class/Nation>'
              AND NOT EXISTS (SELECT 1 FROM quads r
                              WHERE r.p = '<urn:hk:p/inRegion>'
                                AND r.o = '<urn:hk:region/1>'
                                AND r.s = t.s)
        """,
        "kg_sparql_bind": f"""
            WITH {_Q},
            base AS (
              SELECT k.s AS n,
                     CAST(regexp_extract(k.o, '^"(-?[0-9]+)"', 1) AS DOUBLE)
                       AS kv,
                     l.o AS lab
              FROM quads k
              JOIN quads l ON l.s = k.s
               AND l.p = '<http://www.w3.org/2000/01/rdf-schema#label>'
              WHERE k.p = '<urn:hk:p/key>'
            )
            SELECT n, kv * 2 + 1 AS k2,
                   '"' || regexp_extract(lab, '^"(.*)"', 1) || '!"' AS bang
            FROM base
            WHERE kv - floor(kv / 5) * 5 >= 3
        """,
        "kg_sparql_bind_agg": f"""
            WITH {_Q},
            base AS (
              SELECT k.s AS n,
                     CAST(regexp_extract(k.o, '^"(-?[0-9]+)"', 1) AS DOUBLE)
                       AS kv,
                     l.o AS lab
              FROM quads k
              JOIN quads l ON l.s = k.s
               AND l.p = '<http://www.w3.org/2000/01/rdf-schema#label>'
              WHERE k.p = '<urn:hk:p/key>'
            )
            SELECT kv - floor(kv / 5) * 5 AS b,
                   count(n)::BIGINT AS cnt,
                   string_agg(lab, '|' ORDER BY lab) AS names,
                   min(lab) AS one
            FROM base GROUP BY 1
        """,
        "kg_sparql_nps": """
            SELECT '<urn:hk:ctx/r/' || n_regionkey || '>' AS a,
                   '<urn:hk:ctx/n/' || n_nationkey || '>' AS b
            FROM nation
            UNION ALL
            SELECT '<urn:hk:ctx/root>',
                   '<urn:hk:ctx/r/' || r_regionkey || '>'
            FROM region
        """,
        "kg_sparql_path_agg": f"""
            WITH RECURSIVE {_Q},
            edges AS (
              SELECT s AS src, o AS dst FROM quads
              WHERE p IN ('<urn:hk:p/inNation>', '<urn:hk:p/inRegion>',
                          '<urn:hk:p/fromNation>')
            ),
            reach AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
            )
            SELECT r.dst AS r, count(*)::BIGINT AS n_members
            FROM reach r
            JOIN quads t ON t.s = r.dst
             AND t.p = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
             AND t.o = '<urn:hk:class/Region>'
            GROUP BY r.dst
        """,
        "kg_sparql_graph": f"""
            WITH {_Q}
            SELECT g, count(*)::BIGINT AS n_cust
            FROM quads
            WHERE p = '<urn:hk:p/inNation>' AND g <> '<hk://id/null>'
            GROUP BY g
        """,
        "kg_sparql_graph_limit": f"""
            WITH {_Q},
            c AS (
              SELECT g, s AS c FROM quads
              WHERE p = '<urn:hk:p/inNation>' AND g <> '<hk://id/null>'
            )
            SELECT g, c FROM (
              SELECT g, c,
                     row_number() OVER (PARTITION BY g ORDER BY c) AS rn
              FROM c
            ) WHERE rn <= 3
        """,
        "kg_sparql_graph_path": """
            SELECT '<urn:hk:g/ctx/r/' || r_regionkey || '>' AS g,
                   '<urn:hk:ctx/r/' || r_regionkey || '>' AS c
            FROM region
            UNION ALL
            SELECT '<urn:hk:g/ctx/r/' || n_regionkey || '>' AS g,
                   '<urn:hk:ctx/n/' || n_nationkey || '>' AS c
            FROM nation
        """,
        "kg_sparql_builtins": f"""
            WITH {_Q}
            SELECT s, o AS l,
                   length(regexp_extract(o, '^"(.*)"', 1))::BIGINT AS len
            FROM quads
            WHERE p = '<http://www.w3.org/2000/01/rdf-schema#label>'
              AND regexp_matches(o, '@[Ee][Nn](-|$)')
              AND contains(regexp_extract(s, '^<(.*)>$', 1), 'nation')
        """,
        "kg_sparql_subquery": f"""
            WITH {_Q},
            cnt AS (
              SELECT o AS r, count(*)::BIGINT AS cnt FROM quads
              WHERE p = '<urn:hk:p/inRegion>' GROUP BY o
            )
            SELECT l.s AS r, l.o AS l, c.cnt
            FROM quads l
            JOIN quads t ON t.s = l.s
             AND t.p = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
             AND t.o = '<urn:hk:class/Region>'
            JOIN cnt c ON c.r = l.s
            WHERE l.p = '<http://www.w3.org/2000/01/rdf-schema#label>'
        """,
        "kg_sparql_strfns": f"""
            WITH {_Q},
            base AS (
              SELECT s, regexp_extract(o, '^"(.*)"', 1) AS lab
              FROM quads
              WHERE p = '<http://www.w3.org/2000/01/rdf-schema#label>'
                AND regexp_matches(o, '@[Ee][Nn](-|$)')
            )
            SELECT s,
                   '"' || substr(lab, 1, 3) || '"' AS pre,
                   '"' || CASE WHEN strpos(lab, 'A') > 0
                          THEN substr(lab, strpos(lab, 'A') + 1)
                          ELSE '' END || '"' AS aftera,
                   '"' || regexp_replace(lab, '[AEIOU]', '_', 'g')
                       || '"' AS masked,
                   '"' || CASE WHEN length(lab) > 7
                          THEN 'long' ELSE 'short' END || '"' AS size
            FROM base
        """,
        "doc_chain_clusters": """
            SELECT i::VARCHAR AS id, '0' AS keep_id
            FROM range(0, 10000) t(i)
        """,
        "kg_titles": f"""
            WITH {_Q}, {_NODES_CTE}
            SELECT np.id,
                   coalesce(n.n_name, r.r_name,
                            regexp_extract(regexp_replace(np.id, '>$', ''),
                                           '([^#/<]*)$', 1)) AS title
            FROM node_parent np
            LEFT JOIN nation n
              ON np.id = '<urn:hk:nation/' || n.n_nationkey || '>'
            LEFT JOIN region r
              ON np.id = '<urn:hk:region/' || r.r_regionkey || '>'
            UNION ALL
            SELECT '<urn:hk:dct/' || r_regionkey || '>' AS id,
                   'dct title ' || r_regionkey AS title
            FROM region
        """,
        "kg_context_closure": """
            SELECT '<urn:hk:ctx/r/1>' AS id
            UNION ALL
            SELECT '<urn:hk:ctx/n/' || n_nationkey || '>'
            FROM nation WHERE n_regionkey = 1
        """,
        "kg_update_delta": """
            WITH sel AS (
              SELECT n_nationkey, n_name FROM nation WHERE n_nationkey % 4 = 0
            )
            SELECT 'delete' AS op,
                   '<urn:hk:nation/' || n_nationkey || '>' AS s,
                   '<http://www.w3.org/2000/01/rdf-schema#label>' AS p,
                   '"' || n_name || '"@en' AS o,
                   '<hk://id/null>' AS g
            FROM sel
            UNION ALL
            SELECT 'insert',
                   '<urn:hk:nation/' || n_nationkey || '>',
                   '<http://www.w3.org/2000/01/rdf-schema#label>',
                   '"' || n_name || '_X"@en',
                   '<hk://id/null>'
            FROM sel
        """,
        "kg_time_anchors": """
            WITH sel AS (
              SELECT o_orderkey::VARCHAR AS k,
                     strftime(o_orderdate, '%Y-%m-%d') AS d
              FROM orders WHERE o_orderkey % 200 = 0
            )
            SELECT aid, prop, value FROM (
              SELECT '<urn:hk:time/in/' || k || '>' AS aid,
                     '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS prop,
                     '["<http://www.w3.org/2006/time#Instant>"]' AS value
              FROM sel
              UNION ALL
              SELECT '<urn:hk:time/in/' || k || '>', 'begin', d || 'T00:00:00'
              FROM sel
              UNION ALL
              SELECT '<urn:hk:time/in/' || k || '>', 'end', d || 'T00:00:00'
              FROM sel
              UNION ALL
              SELECT '<urn:hk:time/iv/' || k || '>',
                     '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>',
                     '["<http://www.w3.org/2006/time#Interval>"]'
              FROM sel
              UNION ALL
              SELECT '<urn:hk:time/iv/' || k || '>',
                     '<http://www.w3.org/2006/time#hasBeginning>',
                     '<urn:hk:time/in/' || k || '>'
              FROM sel
              UNION ALL
              SELECT '<urn:hk:time/iv/' || k || '>', 'begin', d || 'T00:00:00'
              FROM sel
            )
        """,
        "kg_time_links": """
            WITH sel AS (
              SELECT o_orderkey::VARCHAR AS k FROM orders
              WHERE o_orderkey % 200 = 0
            )
            SELECT '<hk://link/' || md5('<urn:hk:order/' || k || '>'
                   || '<http://www.w3.org/2006/time#hasTime>'
                   || '<urn:hk:time/iv/' || k || '>'
                   || '<urn:hk:g/time>') || '>' AS id,
                   '<http://www.w3.org/2006/time#hasTime>' AS connector,
                   '<urn:hk:order/' || k || '>' AS s_comp,
                   'λ' AS s_anchor,
                   '<urn:hk:g/time>' AS o_comp,
                   '<urn:hk:time/iv/' || k || '>' AS o_anchor
            FROM sel
        """,
        "kg_text_literal_nodes": f"""
            WITH {_Q}, {_NODES_CTE}, {_LITS_CTE}, {_TEXT_CTE}
            SELECT '<hk://node/' || md5(value) || '>' AS id,
                   NULLIF(arg_min(coalesce(ep, ''), stmt_idx), '') AS parent,
                   value AS data
            FROM txt GROUP BY value
        """,
        "kg_text_literal_links": f"""
            WITH {_Q}, {_NODES_CTE}, {_LITS_CTE}, {_TEXT_CTE}
            SELECT DISTINCT
                   '<hk://link/' || md5(target_id || prop || value
                                        || coalesce(ep, 'null')) || '>' AS id,
                   prop AS connector, ep AS parent, target_id AS subj,
                   '<hk://node/' || md5(value) || '>' AS obj
            FROM txt
        """,
        "doc_dedup_exact": """
            WITH seeded AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
            ),
            h AS (SELECT doc_id AS id, md5(text) AS h FROM seeded),
            g AS (SELECT h, min(id) AS keep_id, count(*) AS n FROM h GROUP BY h)
            SELECT g.keep_id, h.id AS dup_id
            FROM h JOIN g USING (h) WHERE g.n > 1 AND h.id <> g.keep_id
        """,
        "doc_minhash": f"""
            WITH {_DOC_SH}, {_MINHASH_CTE}
            SELECT id, hidx::INTEGER AS hidx, minh FROM mh
        """,
        "doc_minhash_ws": f"""
            WITH {_DOC_SH_WS}, {_MINHASH_CTE}
            SELECT id, hidx::INTEGER AS hidx, minh FROM mh
        """,
        "doc_lsh_pairs": f"""
            WITH {_DOC_SH}, {_MINHASH_CTE}, {_BANDS_CTE}
            SELECT DISTINCT k1.id AS a, k2.id AS b
            FROM keys k1
            JOIN keys k2 ON k1.band = k2.band AND k1.bkey = k2.bkey
                        AND k1.id < k2.id
            JOIN bsz ON bsz.band = k1.band AND bsz.bkey = k1.bkey
            WHERE bsz.n BETWEEN 2 AND 50
        """,
        "doc_jaccard": f"""
            WITH {_DOC_SH},
            rare AS (
              SELECT shingle FROM sh GROUP BY shingle
              HAVING count(*) <= {_JACCARD_DF_CAP}
            ),
            shc AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
            cand AS (
              SELECT sa.id AS a, sb.id AS b
              FROM shc sa JOIN shc sb ON sa.shingle = sb.shingle AND sa.id < sb.id
              GROUP BY sa.id, sb.id HAVING count(*) >= 5
            ),
            inter AS (
              SELECT sa.id AS a, sb.id AS b, count(*) AS inter
              FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.id < sb.id
              JOIN cand ON cand.a = sa.id AND cand.b = sb.id
              GROUP BY sa.id, sb.id
            ),
            szs AS (SELECT id, count(*) AS sz FROM sh GROUP BY id)
            SELECT a, b, inter, za.sz + zb.sz - inter AS uni
            FROM inter
            JOIN szs za ON za.id = a JOIN szs zb ON zb.id = b
        """,
        "doc_dup_clusters": f"""
            WITH RECURSIVE {_DOC_SH}, {_MINHASH_CTE}, {_BANDS_CTE},
            prs AS (
              SELECT DISTINCT k1.id AS a, k2.id AS b
              FROM keys k1
              JOIN keys k2 ON k1.band = k2.band AND k1.bkey = k2.bkey
                          AND k1.id < k2.id
              JOIN bsz ON bsz.band = k1.band AND bsz.bkey = k1.bkey
              WHERE bsz.n BETWEEN 2 AND 50
            ),
            und AS (
              SELECT a::VARCHAR AS a, b::VARCHAR AS b FROM prs
              UNION SELECT b::VARCHAR, a::VARCHAR FROM prs
            ),
            reach AS (
              SELECT a AS id, b AS m FROM und
              UNION
              SELECT r.id, u.b FROM reach r JOIN und u ON u.a = r.m
            )
            SELECT id, CAST(min(CAST(m AS BIGINT)) AS VARCHAR) AS keep_id
            FROM reach GROUP BY id
        """,
        "doc_simhash": """
            WITH tok AS (
              SELECT DISTINCT doc_id AS id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents
            ),
            h AS (SELECT id, md5(tok) AS h FROM tok),
            v AS (
              SELECT id, bit,
                     CASE WHEN substr(h, bit::INTEGER, 1) IN
                          ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END AS v
              FROM h CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS bit) bs
            ),
            sv AS (SELECT id, bit, sum(v) AS sv FROM v GROUP BY id, bit)
            SELECT id,
                   string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, ''
                              ORDER BY bit) AS simhash
            FROM sv GROUP BY id
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv
                  FROM embeddings),
            s AS (
              SELECT q_id, cand_id,
                     CAST(round(list_dot_product(qv, cv) * 10000) AS BIGINT)
                       AS score_e4
              FROM c CROSS JOIN q WHERE cand_id <> q_id
            ),
            r AS (
              SELECT q_id, cand_id, score_e4,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score_e4 DESC, cand_id) AS rnk
              FROM s
            )
            SELECT q_id, rnk::INTEGER AS rank, cand_id, score_e4
            FROM r WHERE rnk <= 5
        """,
        "ann_lsh_buckets": f"""
            WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            b AS (
              SELECT id, p,
                     list_sum(list_transform(generate_series(1, len(v)),
                       d -> v[d] * ({_W_PD} / 1000000.0 - 0.5))) AS s
              FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS p) ps
            )
            SELECT id,
                   string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                              ORDER BY p) AS bucket
            FROM b GROUP BY id
        """,
        "ann_lsh_topk": f"""
            WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            b AS (
              SELECT id, p,
                     list_sum(list_transform(generate_series(1, len(v)),
                       d -> v[d] * ({_W_PD} / 1000000.0 - 0.5))) AS s
              FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS p) ps
            ),
            bk AS (
              SELECT id,
                     string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                                ORDER BY p) AS bucket
              FROM b GROUP BY id
            ),
            sc AS (
              SELECT q.id AS q_id, c.id AS cand_id,
                     CAST(round(list_dot_product(qe.v, ce.v) * 10000) AS BIGINT)
                       AS score_e4
              FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.id <> c.id
              JOIN e qe ON qe.id = q.id JOIN e ce ON ce.id = c.id
              WHERE q.id < 10
            ),
            r AS (
              SELECT q_id, cand_id, score_e4,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score_e4 DESC, cand_id) AS rnk
              FROM sc
            )
            SELECT q_id, rnk::INTEGER AS rank, cand_id, score_e4
            FROM r WHERE rnk <= 5
        """,
        "ann_lsh_multiprobe": f"""
            WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            b AS (
              SELECT id, p,
                     list_sum(list_transform(generate_series(1, len(v)),
                       d -> v[d] * ({_W_PD} / 1000000.0 - 0.5))) AS s
              FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS p) ps
            ),
            bk AS (
              SELECT id,
                     string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                                ORDER BY p) AS bucket
              FROM b GROUP BY id
            ),
            probes AS (
              SELECT id AS q_id, bucket AS pb FROM bk WHERE id < 10
              UNION ALL
              SELECT id,
                     substr(bucket, 1, i - 1)
                     || (CASE WHEN substr(bucket, i, 1) = '1'
                         THEN '0' ELSE '1' END)
                     || substr(bucket, i + 1, 8 - i)
              FROM bk
              CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i) bi
              WHERE id < 10
            ),
            sc AS (
              SELECT p.q_id, c.id AS cand_id,
                     CAST(round(list_dot_product(qe.v, ce.v) * 10000) AS BIGINT)
                       AS score_e4
              FROM probes p
              JOIN bk c ON c.bucket = p.pb AND c.id <> p.q_id
              JOIN e qe ON qe.id = p.q_id JOIN e ce ON ce.id = c.id
            ),
            r AS (
              SELECT q_id, cand_id, score_e4,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score_e4 DESC, cand_id) AS rnk
              FROM sc
            )
            SELECT q_id, rnk::INTEGER AS rank, cand_id, score_e4
            FROM r WHERE rnk <= 5
        """,
        "ann_ivf_topk": """
            WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            cents AS (SELECT id AS cell, v AS cv FROM e WHERE id < 16),
            asg AS (
              SELECT id, cell FROM (
                SELECT e.id, c.cell,
                       row_number() OVER (
                         PARTITION BY e.id
                         ORDER BY list_dot_product(e.v, c.cv) DESC, c.cell
                       ) AS rn
                FROM e CROSS JOIN cents c
              ) WHERE rn = 1
            ),
            q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 10),
            probes AS (
              SELECT q_id, cell FROM (
                SELECT q.q_id, c.cell,
                       row_number() OVER (
                         PARTITION BY q.q_id
                         ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cell
                       ) AS rn
                FROM q CROSS JOIN cents c
              ) WHERE rn <= 4
            ),
            s AS (
              SELECT q.q_id, e.id AS cand_id,
                     CAST(round(list_dot_product(q.qv, e.v) * 10000) AS BIGINT)
                       AS score_e4
              FROM probes p
              JOIN asg a ON a.cell = p.cell
              JOIN e ON e.id = a.id
              JOIN q ON q.q_id = p.q_id
              WHERE e.id <> q.q_id
            ),
            r AS (
              SELECT q_id, cand_id, score_e4,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score_e4 DESC, cand_id) AS rnk
              FROM s
            )
            SELECT q_id, rnk::INTEGER AS rank, cand_id, score_e4
            FROM r WHERE rnk <= 5
        """,
        "embed_neardup": f"""
            WITH e0 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                        FROM embeddings),
            pr AS (
              SELECT id,
                     list_transform(generate_series(1, len(v)),
                       d -> v[d] + 0.125 * ({_U_ID_D} / 1000000.0 - 0.5)) AS rv
              FROM e0 WHERE id % 50 = 25
            ),
            near AS (
              SELECT id + 2000000 AS id,
                     list_transform(rv,
                       x -> x / sqrt(list_sum(list_transform(rv, y -> y * y)))
                     ) AS v
              FROM pr
            ),
            e AS (
              SELECT id, v FROM e0
              UNION ALL
              SELECT id + 1000000, v FROM e0 WHERE id % 100 = 0
              UNION ALL
              SELECT id, v FROM near
            ),
            b AS (
              SELECT id, p // 8 AS tbl, p,
                     list_sum(list_transform(generate_series(1, len(v)),
                       d -> v[d] * ({_W_PD} / 1000000.0 - 0.5))) AS s
              FROM e CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS p) ps
            ),
            bk AS (
              SELECT id, tbl,
                     string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                                ORDER BY p) AS bucket
              FROM b GROUP BY id, tbl
            ),
            sized AS (
              SELECT tbl, bucket FROM bk GROUP BY tbl, bucket
              HAVING count(*) BETWEEN 2 AND 1000
            ),
            eb AS (
              SELECT bk.id, bk.tbl, bk.bucket
              FROM bk JOIN sized USING (tbl, bucket)
            ),
            cand AS (
              SELECT DISTINCT x.id AS a, y.id AS b
              FROM eb x JOIN eb y
                ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.id < y.id
            )
            SELECT c.a, c.b,
                   CAST(round(list_dot_product(ea.v, eb2.v) * 10000) AS BIGINT)
                     AS score_e4
            FROM cand c JOIN e ea ON ea.id = c.a JOIN e eb2 ON eb2.id = c.b
            WHERE CAST(round(list_dot_product(ea.v, eb2.v) * 10000) AS BIGINT)
                  >= 9500
        """,
        "ann_ivf_trained": f"""
            WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                       FROM embeddings),
            dims AS (SELECT unnest(generate_series(1,
                       (SELECT len(v) FROM e LIMIT 1))) AS d),
            c0 AS (SELECT id AS cell, v AS cv FROM e WHERE id < 16),
            a0 AS ({_ivf_assign_sql('c0')}),
            m1 AS ({_ivf_means_sql('a0')}),
            c1 AS (SELECT cell, list(m::DOUBLE ORDER BY d) AS cv
                   FROM m1 GROUP BY cell),
            a1 AS ({_ivf_assign_sql('c1')}),
            m2 AS ({_ivf_means_sql('a1')}),
            c2 AS (SELECT cell, list(m::DOUBLE ORDER BY d) AS cv
                   FROM m2 GROUP BY cell),
            asg AS ({_ivf_assign_sql('c2')}),
            q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 10),
            probes AS (
              SELECT q_id, cell FROM (
                SELECT q.q_id, c.cell,
                       row_number() OVER (
                         PARTITION BY q.q_id
                         ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cell
                       ) AS rn
                FROM q CROSS JOIN c2 c
              ) WHERE rn <= 4
            ),
            s AS (
              SELECT q.q_id, e.id AS cand_id,
                     CAST(round(list_dot_product(q.qv, e.v) * 10000) AS BIGINT)
                       AS score_e4
              FROM probes p
              JOIN asg a ON a.cell = p.cell
              JOIN e ON e.id = a.id
              JOIN q ON q.q_id = p.q_id
              WHERE e.id <> q.q_id
            ),
            r AS (
              SELECT q_id, cand_id, score_e4,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score_e4 DESC, cand_id) AS rnk
              FROM s
            )
            SELECT q_id, rnk::INTEGER AS rank, cand_id, score_e4
            FROM r WHERE rnk <= 5
        """,
        "kg_from_uris": f"""
            WITH {_Q},
            res AS (
              SELECT s, p, o,
                     '<hk://link/' || md5(s || p || o || g) || '>' AS lid
              FROM quads WHERE substr(o, 1, 1) = '<'
            ),
            l1 AS (
              SELECT * FROM res
              WHERE s = '<urn:hk:nation/0>' OR o = '<urn:hk:nation/0>'
            ),
            n1 AS (
              SELECT '<urn:hk:nation/0>' AS id
              UNION SELECT lid FROM l1
              UNION SELECT s FROM l1
              UNION SELECT o FROM l1
            ),
            l2 AS (
              SELECT * FROM res
              WHERE s IN (SELECT id FROM n1) OR o IN (SELECT id FROM n1)
            ),
            ids AS (
              SELECT id FROM n1
              UNION SELECT lid FROM l2
              UNION SELECT s FROM l2
              UNION SELECT o FROM l2
              UNION SELECT p FROM l1
              UNION SELECT p FROM l2
            )
            SELECT DISTINCT id FROM ids
        """,
        "kg_pagerank": f"""
            WITH {_Q},
            ed AS (
              SELECT DISTINCT s AS src, o AS dst FROM quads
              WHERE substr(o, 1, 1) = '<'
            ),
            outd AS (SELECT src, count(*) AS od FROM ed GROUP BY src),
            nodes AS (SELECT src AS n FROM ed UNION SELECT dst FROM ed),
            r0 AS (SELECT n, 10000::BIGINT AS r FROM nodes),
            c1 AS (
              SELECT e.dst AS n, sum(r.r / o.od) AS c
              FROM ed e JOIN r0 r ON r.n = e.src JOIN outd o ON o.src = e.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT nodes.n,
                     CAST(round(1500 + 0.85 * coalesce(c1.c, 0)) AS BIGINT) AS r
              FROM nodes LEFT JOIN c1 ON c1.n = nodes.n
            ),
            c2 AS (
              SELECT e.dst AS n, sum(r.r / o.od) AS c
              FROM ed e JOIN r1 r ON r.n = e.src JOIN outd o ON o.src = e.src
              GROUP BY e.dst
            ),
            r2 AS (
              SELECT nodes.n,
                     CAST(round(1500 + 0.85 * coalesce(c2.c, 0)) AS BIGINT) AS r
              FROM nodes LEFT JOIN c2 ON c2.n = nodes.n
            ),
            c3 AS (
              SELECT e.dst AS n, sum(r.r / o.od) AS c
              FROM ed e JOIN r2 r ON r.n = e.src JOIN outd o ON o.src = e.src
              GROUP BY e.dst
            ),
            r3 AS (
              SELECT nodes.n,
                     CAST(round(1500 + 0.85 * coalesce(c3.c, 0)) AS BIGINT) AS r
              FROM nodes LEFT JOIN c3 ON c3.n = nodes.n
            )
            SELECT n AS node, r AS rank_e4 FROM r3
        """,
        "evt_windowed_counts": """
            SELECT strftime(ts - to_microseconds(epoch_us(ts) % 600000000),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2
        """,
        "evt_sessions": """
            WITH x AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 1800000000
                          THEN 1 ELSE 0 END AS nw
              FROM events WHERE ts IS NOT NULL
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
              SELECT user_id, ts,
                     (sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) - 1)::BIGINT
                       AS session_idx
              FROM x
            )
            SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
                   min(ts) AS t_start, max(ts) AS t_end
            FROM s GROUP BY user_id, session_idx
        """,
        "doc_token_stats_ws": r"""
            WITH docs_m AS (
              SELECT doc_id, replace(text, ' ', chr(9) || ' ') AS text
              FROM documents
            )
            SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
                   (CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\s+'))
                    END)::BIGINT AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))::BIGINT AS n_re_tokens
            FROM docs_m
        """,
        "doc_token_stats": """
            SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
                   len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
                   len(regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))::BIGINT AS n_re_tokens
            FROM documents
        """,
        "doc_quality": """
            WITH t AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w
                       FROM documents)
            SELECT id, len(w)::BIGINT AS n_tokens,
                   len(list_distinct(w))::BIGINT AS n_distinct,
                   floor(list_sum(list_transform(w, x -> length(x))) * 100.0
                         / len(w))::BIGINT AS mean_tok_len_x100,
                   floor(len(list_filter(w, x -> list_contains(
                       ['the','a','of','and','in'], x))) * 1000.0
                         / len(w))::BIGINT AS stop_ratio_x1000,
                   floor(len(list_distinct(w)) * 1000.0
                         / len(w))::BIGINT AS distinct_ratio_x1000
            FROM t
        """,
        "doc_langid": """
            WITH t AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w
                       FROM documents),
            sc AS (
              SELECT id,
                len(list_filter(w, x -> list_contains(['der','die','und','das','ein'], x)))::BIGINT AS score_de,
                len(list_filter(w, x -> list_contains(['the','a','of','and','in'], x)))::BIGINT AS score_en,
                len(list_filter(w, x -> list_contains(['el','la','de','y','que'], x)))::BIGINT AS score_es,
                len(list_filter(w, x -> list_contains(['le','la','et','les','des'], x)))::BIGINT AS score_fr,
                len(list_filter(w, x -> list_contains(['o','a','de','e','que'], x)))::BIGINT AS score_pt
              FROM t
            )
            SELECT id, score_de, score_en, score_es, score_fr, score_pt,
                   CASE greatest(score_de, score_en, score_es, score_fr, score_pt)
                     WHEN 0 THEN 'unknown'
                     WHEN score_de THEN 'de'
                     WHEN score_en THEN 'en'
                     WHEN score_es THEN 'es'
                     WHEN score_fr THEN 'fr'
                     ELSE 'pt'
                   END AS pred_lang
            FROM sc
        """,
        "doc_fingerprint": """
            WITH t AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w
                       FROM documents),
            g AS (
              SELECT id,
                     list_transform(generate_series(1, greatest(len(w) - 4, 0)),
                       i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                                || w[i+3] || ' ' || w[i+4])) AS hs
              FROM t
            )
            SELECT id, list_aggregate(hs, 'min') AS fp,
                   len(hs)::BIGINT AS n_grams
            FROM g
        """,
        "doc_repetition": """
            WITH t AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w
                       FROM documents),
            g AS (
              SELECT id,
                     list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                       i -> w[i] || ' ' || w[i+1]) AS grams,
                     w
              FROM t
            ),
            gc AS (
              SELECT id, max(c) AS top_gram_n FROM (
                SELECT id, gram, count(*) AS c
                FROM (SELECT id, unnest(grams) AS gram FROM g) x
                GROUP BY id, gram
              ) GROUP BY id
            )
            SELECT g.id, len(g.grams)::BIGINT AS n_grams,
                   coalesce(gc.top_gram_n, 0)::BIGINT AS top_gram_n,
                   len(g.w)::BIGINT AS n_words,
                   len(list_distinct(g.w))::BIGINT AS n_distinct_words
            FROM g LEFT JOIN gc ON gc.id = g.id
        """,
        "doc_decontam": f"""
            WITH ec AS (SELECT string_split(lower(text), ' ') AS w
                        FROM documents WHERE source = 'src0'),
            ev AS (
              SELECT DISTINCT
                     unnest(list_transform(
                       generate_series(1, greatest(len(w) - 7, 0)),
                       i -> {_GRAM8})) AS gram
              FROM ec
            ),
            c AS (
              SELECT doc_id AS id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 7, 0)),
                       i -> {_GRAM8})) AS grams
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
                    FROM documents WHERE source <> 'src0')
            ),
            o AS (
              SELECT id, count(*) AS n_overlap
              FROM (SELECT id, unnest(grams) AS gram FROM c) x
              JOIN ev USING (gram) GROUP BY id
            )
            SELECT c.id, len(c.grams)::BIGINT AS n_grams,
                   coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
                   (coalesce(o.n_overlap, 0) >= 1)::BIGINT AS contaminated
            FROM c LEFT JOIN o ON o.id = c.id
        """,
        "doc_line_dedup": """
            WITH base AS (SELECT doc_id AS id, string_split(text, ' ') AS w
                          FROM documents),
            lined AS (
              SELECT id,
                     CASE WHEN id % 3 = 0
                          THEN 'accept cookies to continue' || chr(10)
                          ELSE '' END
                     || array_to_string(list_transform(
                          generate_series(0, (len(w) - 1) // 8),
                          i -> array_to_string(w[i*8+1 : i*8+8], ' ')),
                        chr(10))
                     || CASE WHEN id % 4 = 0
                             THEN chr(10) || 'all rights reserved'
                             ELSE '' END AS lt
              FROM base
            ),
            ln AS (
              SELECT id,
                     unnest(generate_series(1, len(string_split(lt, chr(10))))) AS pos,
                     unnest(string_split(lt, chr(10))) AS line
              FROM lined
            ),
            boiler AS (
              SELECT line FROM ln GROUP BY line
              HAVING count(DISTINCT id) >= 2
            ),
            k AS (
              SELECT ln.id, ln.pos, ln.line,
                     (b.line IS NOT NULL) AS dropped
              FROM ln LEFT JOIN boiler b ON b.line = ln.line
            )
            SELECT id, count(*)::BIGINT AS n_lines,
                   sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END)::BIGINT
                     AS n_kept,
                   coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
                                       chr(10) ORDER BY pos), '')
                     AS text_kept
            FROM k GROUP BY id
        """,
        "doc_pii": f"""
            WITH seeded AS (
              SELECT doc_id AS id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                          THEN ' contact user' || doc_id
                               || '@mail.example.com from 10.0.'
                               || (doc_id % 250) || '.7'
                          ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                          THEN ' call +1 555-123-'
                               || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                          ELSE '' END AS t
              FROM documents
            )
            SELECT id,
                   len(regexp_extract_all(t, '{_PII_EMAIL}'))::BIGINT
                     AS n_emails,
                   len(regexp_extract_all(t, '{_PII_IPV4}'))::BIGINT
                     AS n_ipv4,
                   len(regexp_extract_all(t, '{_PII_PHONE}'))::BIGINT
                     AS n_phones,
                   regexp_replace(regexp_replace(regexp_replace(
                     t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                     '{_PII_IPV4}', '<IP>', 'g'),
                     '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
            FROM seeded
        """,
        "doc_top_ngrams": """
            WITH t AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w
                       FROM documents),
            g AS (
              SELECT id,
                     unnest(list_transform(
                       generate_series(1, greatest(len(w) - 2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
              FROM t
            )
            SELECT gram, count(*)::BIGINT AS n_occurrences,
                   count(DISTINCT id)::BIGINT AS n_docs
            FROM g GROUP BY gram
            ORDER BY n_occurrences DESC, gram ASC LIMIT 25
        """,
        "doc_window_dedup": f"""
            WITH base AS (
              SELECT doc_id AS id,
                     lower(text || CASE WHEN doc_id % 7 = 0
                                        THEN '{_WINSEED}' ELSE '' END) AS t
              FROM documents
            ),
            tok AS (SELECT id, string_split(t, ' ') AS w FROM base),
            wins AS (
              SELECT id,
                     unnest(list_transform(
                       generate_series(1, greatest(len(w) - 7, 0)),
                       i -> {_GRAM8})) AS win
              FROM tok
            ),
            shared AS (
              SELECT win FROM (SELECT DISTINCT id, win FROM wins) d
              GROUP BY win HAVING count(*) >= 2
            ),
            cnt AS (
              SELECT w.id, count(*) AS nw,
                     sum(CASE WHEN s.win IS NOT NULL THEN 1 ELSE 0 END) AS nd
              FROM wins w LEFT JOIN shared s USING (win) GROUP BY w.id
            )
            SELECT t.id,
                   coalesce(c.nw, 0)::BIGINT AS n_windows,
                   coalesce(c.nd, 0)::BIGINT AS n_dup_windows,
                   (CASE WHEN coalesce(c.nw, 0) = 0 THEN 0
                         ELSE floor(coalesce(c.nd, 0) * 1000.0 / c.nw)
                    END)::BIGINT AS dup_ratio_x1000
            FROM tok t LEFT JOIN cnt c ON c.id = t.id
        """,
        "doc_c4_lines": f"""
            WITH base AS (SELECT doc_id AS id, string_split(text, ' ') AS w
                          FROM documents),
            lined AS (
              SELECT id,
                     CASE WHEN id % 4 = 0
                          THEN 'please enable javascript and accept cookies.'
                               || chr(10)
                          ELSE '' END
                     || array_to_string(list_transform(
                          generate_series(0, (len(w) - 1) // 8),
                          i -> array_to_string(w[i*8+1 : i*8+8], ' ')
                               || CASE WHEN i % 3 = 0 THEN '.'
                                       WHEN i % 3 = 1 THEN '!'
                                       ELSE '' END),
                        chr(10))
                     || CASE WHEN id % 5 = 0 THEN chr(10) || 'ok.'
                             ELSE '' END AS lt
              FROM base
            ),
            ln AS (
              SELECT id,
                     unnest(generate_series(1, len(string_split(lt, chr(10))))) AS pos,
                     unnest(string_split(lt, chr(10))) AS line
              FROM lined
            ),
            k AS (
              SELECT id, pos, line,
                     (regexp_matches(line, '{_C4_TERM_SQL}')
                      AND len(string_split(line, ' ')) >= 5
                      AND NOT regexp_matches(line, '{_C4_BAD_SQL}')) AS keep
              FROM ln
            )
            SELECT id, count(*)::BIGINT AS n_lines,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
                   coalesce(string_agg(CASE WHEN keep THEN line END,
                                       chr(10) ORDER BY pos), '') AS text_kept
            FROM k GROUP BY id
        """,
        "doc_c4_filter": """
            WITH seeded AS (
              SELECT doc_id AS id,
                     text || repeat('.', (doc_id % 6)::INT)
                     || CASE WHEN doc_id % 11 = 0
                             THEN ' { function()' ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                             THEN ' lorem ipsum dolor' ELSE '' END AS t
              FROM documents
            )
            SELECT id,
                   len(string_split(t, ' '))::BIGINT AS n_words,
                   len(regexp_extract_all(t, '[.!?]'))::BIGINT AS n_sentences,
                   contains(t, '{')::BIGINT AS has_brace,
                   contains(lower(t), 'lorem ipsum')::BIGINT AS has_lorem,
                   (len(regexp_extract_all(t, '[.!?]')) >= 3
                    AND len(string_split(t, ' ')) >= 5
                    AND len(string_split(t, ' ')) <= 50000
                    AND NOT contains(t, '{')
                    AND NOT contains(lower(t), 'lorem ipsum'))::BIGINT AS keep
            FROM seeded
        """,
        "doc_domain_stats": f"""
            WITH u AS (
              SELECT doc_id, text, lang,
                     CASE WHEN doc_id % 19 = 0 THEN 'not a url' ELSE
                       (CASE WHEN doc_id % 2 = 0 THEN 'https://'
                             ELSE 'http://' END)
                       || (CASE WHEN doc_id % 9 = 0 THEN 'user:pw@'
                                ELSE '' END)
                       || (CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END)
                       || 'h' || (doc_id % 17) || '.site' || (doc_id % 7)
                       || '.com'
                       || (CASE WHEN doc_id % 9 = 1 THEN ':8080' ELSE '' END)
                       || '/p/' || doc_id
                       || (CASE WHEN doc_id % 3 = 0 THEN '?ref=rss'
                                ELSE '' END)
                     END AS url
              FROM documents
            ),
            h AS (
              SELECT lower(regexp_extract(url, '{_HOST_RE}', 1)) AS host,
                     length(text)::BIGINT AS chars, lang
              FROM u
            ),
            p AS (
              SELECT string_split(host, '.') AS parts, host, chars, lang
              FROM h
            ),
            d AS (
              SELECT CASE WHEN len(parts) <= 2 THEN host
                          ELSE parts[len(parts)-1] || '.' || parts[len(parts)]
                     END AS domain, host, chars, lang
              FROM p
            )
            SELECT domain, count(*)::BIGINT AS n_docs,
                   count(DISTINCT host)::BIGINT AS n_hosts,
                   count(DISTINCT lang)::BIGINT AS n_langs,
                   sum(chars)::BIGINT AS sum_chars,
                   floor(sum(chars) * 100.0 / count(*))::BIGINT
                     AS mean_chars_x100
            FROM d GROUP BY domain
        """,
        "doc_mixture_sample": f"""
            SELECT doc_id, source FROM documents
            WHERE {_MIX_DRAW_SQL} < {_MIX_CASE_SQL}
        """,
        "doc_tfidf_terms": """
            WITH tok AS (
              SELECT doc_id AS id, unnest(string_split(lower(text), ' '))
                       AS term
              FROM documents
            ),
            tf AS (
              SELECT id, term, count(*)::BIGINT AS tf
              FROM tok GROUP BY id, term
            ),
            dfreq AS (
              SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
            ),
            scored AS (
              SELECT tf.id, tf.term, tf.tf, dfreq.df,
                     (tf.tf * (((SELECT count(*) FROM documents) * 1000)
                               // dfreq.df))::BIGINT AS score
              FROM tf JOIN dfreq USING (term)
            )
            SELECT id, term, tf, df, score, rank FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY id ORDER BY score DESC, term ASC
                     )::BIGINT AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
    }
