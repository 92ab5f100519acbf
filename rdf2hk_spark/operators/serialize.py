"""HK entities DataFrame → RDF quads DataFrame.

Distributed re-expression of the reference's serializer
(/root/reference/serializer.js:42-270 + hkserializer.js:65-294; operators
Z1-Z9 in SURVEY.md §2.5). Every branch of the reference's per-entity switch
becomes a filtered select over the entities DataFrame; the final quad set is
the union of the branches with duplicate suppression (rdfgraph.js:179-189).
``serialize_entities`` runs one Spark job when called: it materializes its
input with an eager ``localCheckpoint``, as ``parse_quads`` does, so the
branches read that checkpoint instead of each re-deriving the input.

Output schema: (s, p, o, g) in the reference's string term encoding, plus a
deterministic hash-derived ``stmt_idx`` so the output can feed ``parse_quads``
directly (round trips).

Term conversion replicates TriGGraph.createResource/getValue
(triggraph.js:24-52,119-152): uri/blank/literal strings pass through, anything
else becomes ``<hk://id/encodeURIComponent(id)>``, null ids become
``<hk://id/null>``.

The reference's uuid blank nodes for non-compressed reification
(hkserializer.js:101,165) are replaced with deterministic
``_:md5(owner + '|' + role + '|' + comp)`` labels (SURVEY §1.2 note).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from rdf2hk_spark import constants as C
from rdf2hk_spark.functions import terms as T
from rdf2hk_spark.operators.owl import OWL_VOCABULARY
from rdf2hk_spark.ops.hashing import md5_int

# owlserializer.js:14-17 — the (unwired-in-the-reference) predicate-set
# variant re-emits exactly these predicates as resources
OWL_PREDICATE_SET = [
    C.RDF_TYPE_URI,
    "<http://www.w3.org/2000/01/rdf-schema#range>",
    "<http://www.w3.org/2000/01/rdf-schema#domain>",
]


@dataclass
class SerializeOptions:
    """Mirrors serializer.js options (serializer.js:19-40)."""

    convert_hk: bool = False
    compress_reification: bool = False
    skip_ref_nodes: bool = False
    inverse_ref_node: bool = False  # no-op in the reference too (serializer.js:274-281)
    convert_number: bool = False
    # O6 inverse — SimpleOwlSerializer (simpleowlserializer.js:20-82, wired
    # at serializer.js:14,343): properties whose KEY is OWL vocabulary, or
    # whose VALUE (any array element) is, re-emit URI/bnode-shaped values as
    # RESOURCE triples instead of quoted literals (and skip array
    # JSON-reification), so parse_with_simple_owl ∘ serialize round-trips.
    convert_owl: bool = False
    # owlserializer.js:20-54 variant (never wired by the reference's
    # serializer.js, which imports simpleowlserializer): trigger on the
    # rdf:type/rdfs:range/rdfs:domain predicate set only; non-URI values
    # become UNTYPED string literals (the reference stringifies, no datatype).
    owl_predicate_set: bool = False
    reify_array: bool | None = None  # None → defaults to convert_hk (serializer.js:56-63)
    default_graph: str | None = None
    suppress_duplicates: bool = True
    subject_label: str = C.DEFAULT_SUBJECT_ROLE
    object_label: str = C.DEFAULT_OBJECT_ROLE

    def __post_init__(self) -> None:
        if self.reify_array is None:
            self.reify_array = bool(self.convert_hk)


def resource_term(col: Column) -> Column:
    """triggraph.js createResource + getValue: id → encoded term string."""
    return (
        F.when(col.isNull(), F.lit(C.HK_NULL_URI))
        .when(T.is_uri(col) | T.is_blank_node(col) | T.is_literal(col), col)
        .otherwise(
            F.concat(
                F.lit(f"<{C.HK_ID_PREFIX}/"), T.encode_uri_component(col), F.lit(">")
            )
        )
    )


def _literal_term(value: Column, meta: Column) -> Column:
    """serializer.js _buildLiteralObject + triggraph literal encoding.

    ``value`` is the stored property value string (bare / '"v"@lang' /
    number-canonical); null means metaProperty-only. ``meta`` is the decoded
    datatype id or null."""
    parsed = T.literal_value(value)
    lang = T.literal_lang(value)
    dtype = T.literal_datatype(value)
    # JS `getValueFromLiteral(value) || value` — falsy ('' / null) falls back
    v = F.when(
        value.isNull(), F.lit(C.HK_NULL_URI)  # meta-only → "<hk://id/null>"^^<T>
    ).otherwise(F.when(parsed.isNull() | (parsed == ""), value).otherwise(parsed))
    typ = F.coalesce(dtype, meta)
    lang_ok = lang.isNotNull() & (lang != "")
    return (
        F.when(lang_ok, F.concat(F.lit('"'), v, F.lit('"@'), lang))
        .when(
            typ.isNotNull(),
            F.concat(F.lit('"'), v, F.lit('"^^'), resource_term(typ)),
        )
        .otherwise(F.concat(F.lit('"'), v, F.lit('"')))
    )


def _json_escape(col: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(col, "\\\\", "\\\\\\\\"), '"', '\\\\"'
    )


def _quads(df: DataFrame, s: Column, p: Column, o: Column, g: Column) -> DataFrame:
    return df.select(s.alias("s"), p.alias("p"), o.alias("o"), g.alias("g"))


def _property_rows(entities: DataFrame, opts: SerializeOptions) -> DataFrame:
    """foreachProperty flattened: one row per (entity, key, value_idx) with the
    aligned metaProperty — union of property keys and metaProperty-only keys
    (serializer.js:315-382)."""
    e = entities
    prop_keys = F.coalesce(F.map_keys("properties"), F.array().cast("array<string>"))
    meta_keys = F.coalesce(
        F.map_keys("metaProperties"), F.array().cast("array<string>")
    )
    all_keys = F.array_union(prop_keys, meta_keys)
    rows = e.select(
        "id", "type", "ref", "parent", "properties", "metaProperties",
        F.explode(all_keys).alias("key"),
    )
    rows = rows.withColumn("vals", F.col("properties").getItem(F.col("key")))
    rows = rows.withColumn("metas", F.col("metaProperties").getItem(F.col("key")))
    return rows


def _emit_property_quads(
    rows: DataFrame, opts: SerializeOptions, id_col: str = "id"
) -> DataFrame:
    """Quads for one pass of _collectProperties over ``rows``; ``id_col``
    selects whether triples hang off the entity id or (for refs) the target."""
    g = resource_term(
        F.coalesce(
            F.col("parent"),
            F.lit(opts.default_graph) if opts.default_graph else F.lit(None),
        )
    )
    subj = resource_term(F.col(id_col))
    pred = resource_term(F.col("key"))

    n_vals = F.coalesce(F.size("vals"), F.lit(0))
    n_metas = F.coalesce(F.size("metas"), F.lit(0))

    # meta-only: value null, metaProperty set (serializer.js:333-341).
    # This branch precedes the convertOwl check in the reference too
    # (the null-value early-return at serializer.js:333 fires first).
    meta_only = rows.filter((n_vals == 0) & (n_metas > 0)).select(
        subj.alias("s"), pred.alias("p"),
        _literal_term(F.lit(None).cast("string"), F.col("metas")[0]).alias("o"),
        g.alias("g"),
    )

    owl_out = None
    if opts.convert_owl or opts.owl_predicate_set:
        if opts.owl_predicate_set:
            # owlserializer.js:33-35: predicate-set trigger only
            is_owl = (n_vals > 0) & F.col("key").isin(OWL_PREDICATE_SET)
        else:
            # simpleowlserializer.js:27-46: key ∈ vocab OR any value ∈ vocab
            vocab_arr = F.array(*[F.lit(u) for u in OWL_VOCABULARY])
            is_owl = (n_vals > 0) & (
                F.col("key").isin(OWL_VOCABULARY)
                | F.arrays_overlap(
                    F.coalesce(F.col("vals"), F.array().cast("array<string>")),
                    vocab_arr,
                )
            )
        owl_rows = rows.filter(is_owl)
        # claimed properties skip the default path entirely (the `return` at
        # serializer.js:346) — including array dedup AND JSON reification
        rows = rows.filter(~is_owl)
        # convertProperty iterates the RAW value array (no dedup,
        # simpleowlserializer.js:49-61); per-index metaProperty alignment
        # follows the default array path's rule (serializer.js:361-368) —
        # the reference passes the whole metaProperty array into
        # createLiteralObject, a JS type hole we resolve per-index.
        owl_elems = owl_rows.select(
            subj.alias("s"), pred.alias("p"), g.alias("g"),
            "metas", "vals", F.posexplode("vals").alias("i", "v"),
        )
        meta_i = F.when(
            n_metas == F.size("vals"), F.col("metas").getItem(F.col("i"))
        ).otherwise(F.col("metas")[0])
        if opts.owl_predicate_set:
            # owlserializer.js:44-46: non-URI values stringify UNTYPED
            lit = F.concat(F.lit('"'), F.col("v"), F.lit('"'))
        else:
            # simpleowlserializer.js:73: createLiteralObject(v, null, meta)
            lit = _literal_term(F.col("v"), meta_i)
        owl_out = owl_elems.select(
            "s", "p",
            F.when(
                T.is_uri(F.col("v")) | T.is_blank_node(F.col("v")), F.col("v")
            ).otherwise(lit).alias("o"),
            "g",
        )

    # scalar: single value (JS scalar property) (serializer.js:373-380)
    scalar = rows.filter(n_vals == 1).select(
        subj.alias("s"), pred.alias("p"),
        _literal_term(F.col("vals")[0], F.col("metas")[0]).alias("o"),
        g.alias("g"),
    )

    # array: dedup keeping first occurrence; per-index meta only when the meta
    # array aligns with the DEDUPED values (serializer.js:356-372)
    arr = rows.filter(n_vals > 1).withColumn("dvals", F.array_distinct("vals"))
    arr_elems = arr.select(
        subj.alias("s"), pred.alias("p"), g.alias("g"), "metas", "dvals",
        F.posexplode("dvals").alias("i", "v"),
    ).select(
        "s", "p",
        _literal_term(
            F.col("v"),
            F.when(
                F.coalesce(F.size("metas"), F.lit(0)) == F.size("dvals"),
                F.col("metas").getItem(F.col("i")),
            ).otherwise(F.col("metas")[0]),
        ).alias("o"),
        "g",
    )

    out = meta_only.unionByName(scalar).unionByName(arr_elems)
    if owl_out is not None:
        out = out.unionByName(owl_out)

    if opts.reify_array:
        # JSON reification of the PRE-dedup array (serializer.js:349-354);
        # numeric/boolean-typed elements serialize unquoted (JS numbers)
        num_set = set(C.NUMBER_DATATYPES)

        def elem_json(v: Column, m: Column) -> Column:
            is_num = m.isin(list(num_set)) & v.rlike(
                "^-?(Infinity|[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?)$"
            )
            is_bool = (m == C.XSD_BOOLEAN_URI) & v.isin("true", "false")
            return F.when(is_num | is_bool, v).otherwise(
                F.concat(F.lit('"'), _json_escape(v), F.lit('"'))
            )

        arr_json = rows.filter(n_vals > 1).select(
            subj.alias("s"), pred.alias("p"),
            F.concat(
                F.lit('"['),
                _json_escape(
                    F.concat_ws(
                        ",",
                        F.zip_with(
                            F.col("vals"),
                            F.coalesce(
                                F.when(n_metas == n_vals, F.col("metas")),
                                F.transform(F.col("vals"), lambda _: F.lit(None).cast("string")),
                            ),
                            lambda v, m: elem_json(v, m),
                        ),
                    )
                ),
                F.lit(']"^^'), F.lit(C.DATA_LIST_URI),
            ).alias("o"),
            g.alias("g"),
        )
        out = out.unionByName(arr_json)
    return out


def _hk_reification_quads(
    entities: DataFrame, connectors: DataFrame, opts: SerializeOptions
) -> DataFrame:
    """hkserializer.js:65-294 — isa/className/roles/usesConnector/binds/
    references/anchors triples for every entity (convertHK mode)."""
    e = entities.withColumn(
        "parentUri", F.coalesce(F.col("parent"), F.lit(C.HK_NULL_URI))
    )
    g = resource_term(F.col("parentUri"))
    subj = resource_term(F.col("id"))
    isa = F.lit(C.ISA_URI)

    type_uri = (
        F.when(F.col("type") == C.CONNECTOR, C.CONNECTOR_URI)
        .when(F.col("type") == C.CONTEXT, C.CONTEXT_URI)
        .when(F.col("type") == C.NODE, C.NODE_URI)
        .when(F.col("type") == C.LINK, C.LINK_URI)
        .when(F.col("type") == C.REFERENCE, C.REF_URI)
        .when(F.col("type") == C.TRAIL, C.TRAIL_URI)
        .when(F.col("type") == C.VIRTUAL_NODE, C.VIRTUAL_NODE_URI)
        .when(F.col("type") == C.VIRTUAL_CONTEXT, C.VIRTUAL_CONTEXT_URI)
        .when(F.col("type") == C.VIRTUAL_LINK, C.VIRTUAL_LINK_URI)
    )

    branches: list[DataFrame] = []

    # isa triples — links only when NOT compressed (hkserializer.js:146-149)
    isa_rows = e.filter(type_uri.isNotNull())
    if opts.compress_reification:
        isa_rows = isa_rows.filter(~F.col("type").isin(C.LINK, C.VIRTUAL_LINK))
    branches.append(_quads(isa_rows, subj, isa, type_uri, g))

    # connectors: className + roles (compressed: hk://role/<enc> predicates)
    conns = e.filter(F.col("type") == C.CONNECTOR)
    branches.append(
        _quads(
            conns, subj, F.lit(C.CLASSNAME_URI),
            F.concat(F.lit('"'), F.col("className"), F.lit('"')), g,
        )
    )
    conn_roles = conns.select(
        "id", "parentUri", F.explode("roles").alias("role", "rtype")
    )
    if opts.compress_reification:
        branches.append(
            _quads(
                conn_roles,
                resource_term(F.col("id")),
                F.concat(
                    F.lit(f"<{C.HK_ROLE_PREFIX}/"),
                    T.encode_uri_component(F.col("role")), F.lit(">"),
                ),
                F.concat(F.lit('"'), F.col("rtype"), F.lit('"')),
                resource_term(F.col("parentUri")),
            )
        )
    else:
        # deterministic bnode replaces uuid (hkserializer.js:101)
        rb = conn_roles.withColumn(
            "bn",
            F.concat(F.lit("_:"), F.md5(F.encode(F.concat_ws("|", "id", "role"), "UTF-8"))),
        )
        branches.append(
            _quads(rb, resource_term(F.col("id")), F.lit(f"<{C.HK_GRAPH_NS}hasRole>"), F.col("bn"), resource_term(F.col("parentUri")))
        )
        # the reference also emits (bnode hasRoleName bnode) (hkserializer.js:104)
        branches.append(
            _quads(rb, F.col("bn"), F.lit(f"<{C.HK_GRAPH_NS}hasRoleName>"), F.col("bn"), resource_term(F.col("parentUri")))
        )
        branches.append(
            _quads(
                rb, F.col("bn"), F.lit(f"<{C.HK_GRAPH_NS}hasRoleName>"),
                F.concat(F.lit('"'), F.col("role"), F.lit('"')),
                resource_term(F.col("parentUri")),
            )
        )
        branches.append(
            _quads(
                rb, F.col("bn"), F.lit(f"<{C.HK_GRAPH_NS}hasRoleType>"),
                F.concat(F.lit('"'), F.col("rtype"), F.lit('"')),
                resource_term(F.col("parentUri")),
            )
        )

    # contexts: hasParent (parent || body)
    ctxs = e.filter(F.col("type").isin(C.CONTEXT, C.VIRTUAL_CONTEXT))
    branches.append(
        _quads(ctxs, subj, F.lit(C.HAS_PARENT_URI), resource_term(F.col("parentUri")), g)
    )

    # links: usesConnector + binds
    links = e.filter(F.col("type").isin(C.LINK, C.VIRTUAL_LINK))
    branches.append(
        _quads(links, subj, F.lit(C.USES_CONNECTOR_URI), resource_term(F.col("connector")), g)
    )
    bind_rows = links.select("id", "parentUri", F.explode("binds").alias("b"))
    comp_node = F.when(
        T.is_blank_node(F.col("b.comp")),
        F.concat(
            F.lit(f"<{C.HK_BLANK_NODE_PREFIX}/"),
            F.substring(F.col("b.comp"), 3, 1_000_000), F.lit(">"),
        ),
    ).otherwise(F.col("b.comp"))
    if opts.compress_reification:
        role_uri = F.concat(
            F.lit(f"<{C.HK_ROLE_PREFIX}/"),
            T.encode_uri_component(F.col("b.role")), F.lit(">"),
        )
        branches.append(
            _quads(
                bind_rows, resource_term(F.col("id")), role_uri,
                resource_term(comp_node), resource_term(F.col("parentUri")),
            )
        )
        anchored = bind_rows.filter(F.col("b.anchor") != C.LAMBDA)
        branches.append(
            _quads(
                anchored, resource_term(F.col("id")),
                F.concat(
                    F.lit(f"<{C.HK_ROLE_PREFIX}/"),
                    T.encode_uri_component(F.col("b.role")), F.lit(">"),
                ),
                F.concat(
                    F.lit('"'), F.col("b.comp"), F.lit("#"), F.col("b.anchor"),
                    F.lit('"'),
                ),
                resource_term(F.col("parentUri")),
            )
        )
    else:
        bb = bind_rows.withColumn(
            "bn",
            F.concat(
                F.lit("_:"),
                F.md5(F.encode(F.concat_ws("|", "id", "b.role", "b.comp"), "UTF-8")),
            ),
        )
        gb = resource_term(F.col("parentUri"))
        branches.append(_quads(bb, resource_term(F.col("id")), F.lit(C.HAS_BIND_URI), F.col("bn"), gb))
        branches.append(
            _quads(bb, F.col("bn"), F.lit(C.BOUND_ROLE_URI),
                   F.concat(F.lit('"'), F.col("b.role"), F.lit('"')), gb)
        )
        branches.append(_quads(bb, F.col("bn"), F.lit(C.BOUND_COMPONENT_URI), resource_term(comp_node), gb))
        branches.append(
            _quads(bb, F.col("bn"), F.lit(C.BOUND_ANCHOR_URI),
                   F.concat(F.lit('"'), F.col("b.anchor"), F.lit('"')), gb)
        )

    # references: (id, references, target) — both inverseRefNode branches in
    # the reference emit this same triple (serializer.js:270-281)
    refs = e.filter(F.col("type") == C.REFERENCE)
    branches.append(_quads(refs, subj, F.lit(C.REFERENCES_URI), resource_term(F.col("ref")), g))

    # anchors/interfaces (hkserializer.js:308-350)
    anch = e.filter(F.size(F.coalesce(F.map_keys("interfaces"), F.array())) > 0).select(
        "id", "parentUri", F.explode("interfaces").alias("k", "intf")
    )
    anch = anch.withColumn("key", F.coalesce(F.col("intf.key"), F.col("k")))
    anch = anch.filter(F.col("key").isNotNull() & (F.col("key") != ""))
    anchor_node = F.concat(
        F.lit(f"<{C.HK_ANCHOR_PREFIX}/"),
        F.md5(
            F.encode(
                F.concat(
                    T.encode_uri_component(F.col("id")), F.lit("/"),
                    T.encode_uri_component(F.col("key")),
                ),
                "UTF-8",
            )
        ),
        F.lit(">"),
    )
    ga = resource_term(F.col("parentUri"))
    anch = anch.withColumn("anode", anchor_node)
    branches.append(_quads(anch, resource_term(F.col("id")), F.lit(C.HAS_ANCHOR_URI), F.col("anode"), ga))
    key_label = F.when(T.is_uri(F.col("key")), T.label_from_uri(F.col("key"))).otherwise(F.col("key"))
    branches.append(
        _quads(anch, F.col("anode"), F.lit(C.ANCHOR_KEY_URI),
               F.concat(F.lit('"'), key_label, F.lit('"')), ga)
    )
    typed = anch.filter(F.col("intf.type").isNotNull())
    branches.append(
        _quads(typed, F.col("anode"), F.lit(C.ANCHOR_TYPE_URI),
               F.concat(F.lit('"'), F.col("intf.type"), F.lit('"')), ga)
    )
    iprops = anch.select(
        "anode", "parentUri", F.explode("intf.properties").alias("pk", "pv")
    ).filter(F.col("pv").isNotNull())
    branches.append(
        _quads(iprops, F.col("anode"), resource_term(F.col("pk")),
               F.concat(F.lit('"'), F.col("pv"), F.lit('"')),
               resource_term(F.col("parentUri")))
    )

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def serialize_entities(
    entities: DataFrame, opts: SerializeOptions | None = None
) -> DataFrame:
    """The full HK→RDF conversion (serializer.js serialize).

    Runs one Spark job when called: the input is materialized with an eager
    ``localCheckpoint``, the same input boundary ``parse_quads`` takes. The
    returned quads frame is lazy over that checkpoint."""
    opts = opts or SerializeOptions()
    # six reads below (property/reference rows, links, connectors, ref map, literal
    # content): a lazy input would re-derive its whole lineage once per read
    e = entities.localCheckpoint(eager=True)

    connectors = e.filter(F.col("type") == C.CONNECTOR)
    ref_map = e.filter(F.col("type") == C.REFERENCE).select(
        F.col("id").alias("rm_id"), F.col("ref").alias("rm_ref")
    )

    branches: list[DataFrame] = []

    # ---- user-visible property triples -------------------------------------
    # connectors (pre-pass, serializer.js:95-100) + nodes/contexts/virtuals +
    # links (only under convertHK, serializer.js:234-237)
    prop_types = [C.CONNECTOR, C.NODE, C.CONTEXT, C.VIRTUAL_NODE, C.VIRTUAL_CONTEXT]
    if opts.convert_hk:
        prop_types.append(C.LINK)
    rows = _property_rows(e.filter(F.col("type").isin(prop_types)), opts)
    branches.append(_emit_property_quads(rows, opts))

    # references (serializer.js:136-158): entity-side props unless skipped,
    # target-side props when (!convertHK || compressReification) && parent
    ref_rows = _property_rows(e.filter(F.col("type") == C.REFERENCE), opts)
    if opts.convert_hk and not opts.skip_ref_nodes:
        branches.append(_emit_property_quads(ref_rows, opts, id_col="id"))
        # _addLiteral double-add on the target for refs with a parent
        branches.append(
            _emit_property_quads(
                ref_rows.filter(F.col("parent").isNotNull()), opts, id_col="ref"
            )
        )
    if (not opts.convert_hk) or opts.compress_reification:
        branches.append(
            _emit_property_quads(
                ref_rows.filter(F.col("parent").isNotNull()), opts, id_col="ref"
            )
        )

    # ---- link cross-bind expansion (Z3, serializer.js:160-232) -------------
    links = e.filter(F.col("type") == C.LINK)
    conn_roles = connectors.select(
        F.col("id").alias("connector"),
        F.map_filter("roles", lambda k, v: v.isin(C.ROLE_SUBJECT, C.ROLE_CHILD)).alias("s_roles"),
        F.map_filter("roles", lambda k, v: v.isin(C.ROLE_OBJECT, C.ROLE_PARENT)).alias("o_roles"),
    ).select(
        "connector",
        F.array_max(F.map_keys("s_roles")).alias("s_role"),
        F.array_max(F.map_keys("o_roles")).alias("o_role"),
    )
    lj = links.join(F.broadcast(conn_roles), "connector", "left")
    lj = lj.withColumn("s_role", F.coalesce("s_role", F.lit(opts.subject_label)))
    lj = lj.withColumn("o_role", F.coalesce("o_role", F.lit(opts.object_label)))
    s_comps = F.filter("binds", lambda b: b["role"] == F.col("s_role"))
    o_comps = F.filter("binds", lambda b: b["role"] == F.col("o_role"))
    cross = lj.select(
        "id", "connector", "parent",
        F.explode(s_comps).alias("sb"), "binds", "o_role",
    ).select(
        "id", "connector", "parent", F.col("sb.comp").alias("s_comp"),
        F.explode(F.filter("binds", lambda b: b["role"] == F.col("o_role"))).alias("ob"),
    ).select(
        "id", "connector", "parent", "s_comp", F.col("ob.comp").alias("o_comp")
    )
    # reference substitution (serializer.js:202-211). ref_map is O(#Reference
    # entities) — unbounded in a per-document-context corpus — so no forced
    # broadcast: AQE picks broadcast only when the build side is actually small.
    cross = (
        cross.join(
            ref_map.withColumnRenamed("rm_id", "s_comp").withColumnRenamed("rm_ref", "s_ref"),
            "s_comp", "left",
        )
        .join(
            ref_map.withColumnRenamed("rm_id", "o_comp").withColumnRenamed("rm_ref", "o_ref"),
            "o_comp", "left",
        )
    )
    link_g = F.coalesce(
        F.col("parent"),
        F.lit(opts.default_graph) if opts.default_graph else F.lit(None),
    )
    branches.append(
        _quads(
            cross,
            resource_term(F.coalesce("s_ref", "s_comp")),
            resource_term(F.col("connector")),
            resource_term(F.coalesce("o_ref", "o_comp")),
            resource_term(link_g),
        )
    )

    # ---- literal-as-node reification (Z9, serializer.js:106-118,260-266) ---
    # links tagged with the data#Literal key re-emit the original literal
    # triple (subject bind, connector, content node's data property, parent);
    # collected unconditionally in the reference's pre-pass and added after
    # the main loop (the link's normal cross-bind expansion above also runs).
    lit_tag = F.lit(C.DATA_LITERAL_URI)
    lit_links = links.filter(
        (F.col("properties").isNotNull() & F.map_contains_key("properties", lit_tag))
        | (
            F.col("metaProperties").isNotNull()
            & F.map_contains_key("metaProperties", lit_tag)
        )
    )
    subj_bind = F.filter(
        "binds", lambda b: b["role"] == opts.subject_label
    )[0]["comp"]
    obj_bind = F.filter(
        "binds", lambda b: b["role"] == opts.object_label
    )[0]["comp"]
    content = e.select(
        F.col("id").alias("content_id"),
        F.element_at(F.element_at("properties", "data"), 1).alias("data"),
    )
    lj = lit_links.select(
        subj_bind.alias("lsub"), "connector", "parent",
        obj_bind.alias("content_id"),
    ).join(content, "content_id", "left")
    branches.append(
        _quads(
            lj,
            resource_term(F.col("lsub")),
            resource_term(F.col("connector")),
            _literal_term(F.col("data"), F.lit(None).cast("string")),
            resource_term(
                F.coalesce(
                    F.col("parent"),
                    F.lit(opts.default_graph) if opts.default_graph else F.lit(None),
                )
            ),
        )
    )

    # ---- HK reification (convertHK) ----------------------------------------
    if opts.convert_hk:
        branches.append(_hk_reification_quads(e, connectors, opts))

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    if opts.suppress_duplicates:
        out = out.dropDuplicates(["s", "p", "o", "g"])
    return out.withColumn(
        "stmt_idx", md5_int(F.concat_ws(" ", "s", "p", "o", "g"), digits=15)
    )
