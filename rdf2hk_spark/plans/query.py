"""The query layer: the reference's SPARQL-generation surface (Q1-Q9,
SURVEY.md §2.6) re-expressed as a filter-dict → DataFrame compiler.

The reference compiles these operations to SPARQL strings shipped to an
external triplestore (/root/reference/sparqlfactory.js); here the entities
DataFrame IS the store, so each operation compiles to Column predicates that
Catalyst pushes down to the storage scan. OR-of-AND filter blocks become one
disjunctive predicate (no UNION re-scan needed — the reference's
optimizeFilter OR→IN clustering, sparqlhelper.js:374-793, is subsumed by
Catalyst's InSet conversion).

Filter language (filterEntities, sparqlfactory.js:168-340,1183-1372):

  filters   := block | [block, ...]            # list = OR of blocks
  block     := {field: constraint, ...}         # AND within a block
  field     := id | parent | type | connector | className | ref
             | properties | binds
  constraint:= value | [v1, v2, ...]            # equality / IN
  properties:= {key: value | [values] | None}   # None = EXISTS(key)
  binds     := {role: comp | None}              # None = ANY comp;
                                                 # role "*" = ANY role
  parent    := value | {"nested": ctx}          # nested = transitive closure
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rdf2hk_spark import constants as C, fixpoint

# skeleton projection for the "lazy" fetches (sparqlfactory.js:110-131):
# the isa/usesConnector skeleton only
LAZY_COLUMNS = ["id", "type", "parent", "connector"]


def get_all_entities(entities: DataFrame, lazy: bool = False) -> DataFrame:
    """Q1 (sparqlfactory.js:47-131)."""
    return entities.select(*LAZY_COLUMNS) if lazy else entities


def get_entities(entities: DataFrame, ids: list[str], lazy: bool = False) -> DataFrame:
    """Q2 (sparqlfactory.js:133-166): VALUES-driven point lookup."""
    out = entities.filter(F.col("id").isin(ids))
    return out.select(*LAZY_COLUMNS) if lazy else out


def _constraint(col: Column, v) -> Column:
    if isinstance(v, (list, tuple, set)):
        return col.isin(list(v))
    if v is None:
        return col.isNull()
    return col == v


def _block_predicate(entities: DataFrame, block: dict) -> Column:
    preds: list[Column] = []
    for field, v in block.items():
        if field in ("id", "type", "connector", "className", "ref"):
            preds.append(_constraint(F.col(field), v))
        elif field == "parent":
            if isinstance(v, dict) and "nested" in v:
                continue  # handled by the caller (needs the closure join)
            preds.append(_constraint(F.col("parent"), v))
        elif field == "properties":
            for key, pv in v.items():
                vals = F.col("properties").getItem(key)
                if pv is None:
                    preds.append(vals.isNotNull())  # EXISTS
                elif isinstance(pv, (list, tuple)):
                    preds.append(
                        F.arrays_overlap(vals, F.array(*[F.lit(x) for x in pv]))
                    )
                else:
                    preds.append(F.array_contains(vals, pv))
        elif field == "binds":
            for role, comp in v.items():
                if role == "*":
                    preds.append(
                        F.exists("binds", lambda b: b["comp"] == comp)
                    )
                elif comp is None:
                    preds.append(
                        F.exists("binds", lambda b: b["role"] == role)
                    )
                else:
                    preds.append(
                        F.exists(
                            "binds",
                            lambda b: (b["role"] == role) & (b["comp"] == comp),
                        )
                    )
        else:
            raise ValueError(f"unknown filter field: {field}")
    out = F.lit(True)
    for p in preds:
        out = out & p
    return out


def filter_entities(entities: DataFrame, filters) -> DataFrame:
    """Q3: DNF filter evaluation. ``filters`` is a block or a list of blocks
    (OR). Blocks with {"parent": {"nested": ctx}} additionally restrict to
    entities whose parent lies anywhere under ``ctx`` in the context tree."""
    blocks = filters if isinstance(filters, list) else [filters]
    pred = F.lit(False)
    nested_ctx: list[tuple[dict, str]] = []
    for b in blocks:
        p = _block_predicate(entities, b)
        parent = b.get("parent")
        if isinstance(parent, dict) and "nested" in parent:
            nested_ctx.append((b, parent["nested"]))
            # restrict via the closure set computed below
            continue
        pred = pred | p
    out = entities.filter(pred) if not isinstance(pred, bool) else entities
    if nested_ctx:
        union = None
        for b, ctx in nested_ctx:
            members = context_closure(entities, ctx)
            hit = entities.join(
                members.select(F.col("id").alias("parent")), "parent"
            ).filter(_block_predicate(entities, {k: v for k, v in b.items() if k != "parent"}))
            union = hit if union is None else union.unionByName(hit)
        out = out.unionByName(union).dropDuplicates(["id"])
    return out


def context_closure(entities: DataFrame, root: str) -> DataFrame:
    """Q4 (sparqlfactory.js:759-812): ``hasParent*`` transitive closure from
    ``root`` downward. Contexts are tiny relative to the graph, so the
    fixpoint joins a cached, broadcast edges frame — each round is one
    broadcast join, depth ≤ context-tree height; a tree deeper than
    ``fixpoint.MAX_ROUNDS`` raises ``fixpoint.PathDepthError``."""
    edges = (
        entities.filter(F.col("type").isin(C.CONTEXT, C.VIRTUAL_CONTEXT))
        .select("id", "parent")
        .cache()
    )
    start = edges.sparkSession.createDataFrame([(root,)], "id string")
    members = fixpoint.closure(
        lambda frontier: edges.join(
            frontier.select(F.col("id").alias("parent")), "parent"
        ).select("id"),
        start,
        start,
    )
    edges.unpersist()
    return members


def get_context_hierarchy(entities: DataFrame, context_id: str) -> DataFrame:
    """Q4 surface: all contexts under ``context_id`` (inclusive)."""
    members = context_closure(entities, context_id)
    return entities.join(members, "id", "left_semi").filter(
        F.col("type").isin(C.CONTEXT, C.VIRTUAL_CONTEXT)
    ).select("id", "parent")


def get_links(entities: DataFrame, ids: list[str]) -> DataFrame:
    """Q5 (sparqlfactory.js:814-882): links whose id, bound component, or
    connector matches — 3-way union as one disjunctive predicate."""
    id_arr = F.array(*[F.lit(i) for i in ids])
    pred = (
        F.col("id").isin(ids)
        | F.col("connector").isin(ids)
        | F.exists("binds", lambda b: F.array_contains(id_arr, b["comp"]))
    )
    return entities.filter((F.col("type") == C.LINK) & pred)


def remove_entities(entities: DataFrame, ids: list[str]) -> DataFrame:
    """Q7 (sparqlfactory.js:675-757): cascade delete — the targets, links
    bound to them, links whose connector they are, and references to them.
    Returns the surviving entities (anti-join deletes; with an Iceberg/Delta
    table this compiles to MERGE WHEN MATCHED DELETE)."""
    id_arr = F.array(*[F.lit(i) for i in ids])
    doomed = (
        F.col("id").isin(ids)
        | F.col("connector").isin(ids)
        | F.col("ref").isin(ids)
        | (
            F.col("binds").isNotNull()
            & F.exists("binds", lambda b: F.array_contains(id_arr, b["comp"]))
        )
    )
    return entities.filter(~F.coalesce(doomed, F.lit(False)))


def from_uris(
    entities: DataFrame,
    ids: list[str],
    level: int = 0,
    class_name: str | None = None,
) -> DataFrame:
    """Q9 (sparqlfactory.js:342-410): DESCRIBE-style neighborhood fetch.

    level 0 = the seed entities themselves; each further level pulls every
    link touching the current frontier plus the entities those links bind or
    use as connector (the HK analog of ``describe ?s ?o``). ``class_name``
    restricts the SEED set only, matching the reference's intent at
    sparqlfactory.js:370-373 — there the generated clause references
    ``RDFS_TYPE_URI``, an undefined variable (a reference bug); we implement
    the intended className restriction instead of inheriting the crash.

    The frontier is a DataFrame throughout (semi-join expansion, no
    ``collect``), so level>1 recursion never funnels ids through the driver —
    each hop is semi-joins over the links partition, one
    ``fixpoint.closure`` round (checkpointed, so the self-referencing plan
    tree stays linear in ``level`` instead of growing ~3^level)."""
    base = entities.filter(F.col("id").isin(ids))
    if class_name is not None:
        base = base.filter(F.col("className") == class_name)
    if level <= 0:
        return base

    links = entities.filter(F.col("type") == C.LINK)

    def hop(frontier: DataFrame) -> DataFrame:
        frontier = frontier.filter(~F.col("conn")).select("id")
        # links touching the frontier: by own id, connector, or bound comp
        by_id = links.join(frontier, "id", "left_semi").select("id")
        by_conn = links.join(
            frontier.select(F.col("id").alias("connector")),
            "connector", "left_semi",
        ).select("id")
        by_bind = (
            links.select("id", F.explode("binds").alias("b"))
            .join(
                frontier.select(F.col("id").alias("_fid")),
                F.col("b.comp") == F.col("_fid"), "left_semi",
            )
            .select("id")
        )
        touched = by_id.unionByName(by_conn).unionByName(by_bind).distinct()
        tlinks = links.join(touched, "id", "left_semi")
        comps = (
            tlinks.select(F.explode("binds").alias("b"))
            .select(F.col("b.comp").alias("id"))
            .distinct()
        )
        # connectors land in the RESULT but never seed the next hop
        # (conn=True rows are filtered out of the frontier above) —
        # expanding through a shared predicate would pull every link using
        # it, which is not a neighborhood (describe never expands predicates)
        connectors = tlinks.select(F.col("connector").alias("id")).distinct()
        return (
            touched.unionByName(comps).distinct()
            .withColumn("conn", F.lit(False))
            .unionByName(connectors.withColumn("conn", F.lit(True)))
        )

    seeds = base.select("id").distinct().withColumn("conn", F.lit(False))
    reached = fixpoint.closure(hop, seeds, seeds, rounds=level)
    return entities.join(reached.select("id"), "id", "left_semi")


def get_rdf(quads: DataFrame, s=None, p=None, o=None, g=None,
            hide_hk: bool = True) -> DataFrame:
    """Q8 (sparqlfactory.js:954-999): BGP fetch of user triples. Conjunctive
    pattern semantics (the TriGGraph variant; the reference's rdfgraph/
    jsongraph OR-chain variants are documented bugs, SURVEY §2.2 P2)."""
    out = quads
    for col, v in (("s", s), ("p", p), ("o", o), ("g", g)):
        if v is not None:
            out = out.filter(F.col(col) == v)
    if hide_hk:
        out = filter_hk(out)
    return out


# FILTER_HK (P14, sparqlfactory.js:28-35): predicates hidden from user RDF
_HK_HIDDEN = [
    C.ISA_URI, C.USES_CONNECTOR_URI, C.CLASSNAME_URI, C.HAS_PARENT_URI,
    C.REFERENCES_URI, C.REFERENCED_BY_URI, C.HAS_BIND_URI, C.BOUND_ROLE_URI,
    C.BOUND_COMPONENT_URI, C.BOUND_ANCHOR_URI, C.HAS_ANCHOR_URI,
    C.ANCHOR_KEY_URI, C.ANCHOR_TYPE_URI,
]


def filter_hk(quads: DataFrame) -> DataFrame:
    """P14: exclude HK-vocabulary statements from user-visible RDF."""
    return quads.filter(
        ~F.col("p").isin(_HK_HIDDEN)
        & ~F.col("p").startswith(f"<{C.HK_ROLE_PREFIX}")
        & ~F.col("o").rlike(f"\\^\\^<{C.HK_ID_PREFIX}")
    )


def scope_to_context(df: DataFrame, context: str) -> DataFrame:
    """Q11 (sparqlhelper.js:296-327): FROM <g> scoping = a parent/g filter
    that Catalyst turns into partition pruning on context-partitioned
    storage. When the frame carries the quad store's ``gpart`` partition
    column (read_quad_store with_partition_key=True), the literal
    partition-key predicate is added so whole directories prune at
    planning time — same mechanism as run_sparql's FROM handling."""
    col = "g" if "g" in df.columns else "parent"
    out = df.filter(F.col(col) == context)
    if col == "g" and "gpart" in df.columns:
        from rdf2hk_spark.operators.update_diff import gpart_key

        out = out.filter(F.col("gpart") == gpart_key(context))
    return out
