"""SPARQL-text query surface (Q10/Q12/P12 + Q13 note, SURVEY §2.6) compiled
onto the quads DataFrame.

The reference assembles SPARQL strings and ships them to a remote endpoint
(sparqlbuilder.js, sparqlfactory.js) and rewrites USER-supplied SPARQL to
hide HK-internal triples (sparqlhelper.js:43-293 ``setHKFiltered``). Here
the quads DataFrame IS the endpoint, so a user's SPARQL text parses to an
algebra and compiles to a DataFrame plan:

- triple patterns → pushed-down scans of the quads frame; shared variables
  become joins (Catalyst reorders / broadcast-selects them);
- FILTER expressions → Column predicates. The textual OR→IN clustering the
  reference performs (``optimizeFilter``, sparqlhelper.js:374-793 — Q13) is
  subsumed by Catalyst's OR-to-InSet conversion, so it has no counterpart
  here by design;
- VALUES → ``isin`` on a bound variable (or a literal frame for a new one);
- FROM <g> → graph equality filter — partition pruning on graph-partitioned
  storage (Q11, sparqlhelper.js:296-327); ``GRAPH <g> { ... }`` scopes the
  inner group's scans the same way, and ``GRAPH ?g { ... }`` binds the
  graph column as an ordinary join variable over NAMED graphs (the
  null-graph sentinel never binds). Property paths have ONE evaluator for
  both scopes: the default graph is the one-graph case, and under
  ``GRAPH ?g`` path endpoints become composite ``struct(g, node)`` keys so
  no step crosses a graph (under a ground GRAPH the scan is filtered to
  that graph first);
- ``hide_hk=True`` applies the FILTER_HK predicate-hiding (P14) to every
  pattern scan — the ``setHKFiltered`` semantic (Q12) achieved in the plan
  instead of by string rewriting;
- literal tokens undo the reference's SPARQL string escapes (P12,
  sparqlhelper.js literal assembly) during tokenization;
- OPTIONAL → left outer join; UNION → unionByName(allowMissingColumns);
  SELECT [DISTINCT] / ORDER BY / LIMIT;
- property paths over ground predicates: modifiers ``*``/``+``/``?``,
  sequences ``p1/p2``, alternatives ``(p1|p2)``, inverse ``^p``, and
  negated property sets ``!p`` / ``!(p1|^p2)`` (forward AND inverse
  members, SPARQL 1.1 §18.2.2.3 split),
  composable (e.g. ``^<parent>+``, ``(<a>/<b>)*``). Every expression
  evaluates to a pair relation (union / relational composition /
  reversal); a top-level ``*``/``+`` with a ground endpoint — the
  reference's own ``hasParent*`` at sparqlfactory.js:800 — takes the
  BFS-from-ground fast path instead (``REFERENCES_URI?`` in the delete
  templates at :718-744 is a one-step filter). Both run on the
  semi-naive ``rdf2hk_spark.fixpoint.closure`` that plans.query's
  context_closure uses — at most ``fixpoint.MAX_ROUNDS`` rounds of joins
  (a deeper graph raises ``PathDepthError``), never a driver-side walk.
  Zero-length components stay SYMBOLIC through sequence composition
  (A∘(C ∪ id) = A∘C ∪ A) instead of materializing a universal diagonal;
- aggregates ``COUNT([DISTINCT] ?v | *)`` / ``SUM`` / ``MIN`` / ``MAX`` /
  ``AVG`` / ``GROUP_CONCAT(?v; SEPARATOR "...")`` / ``SAMPLE`` with
  ``GROUP BY`` compile to groupBy().agg() (map-side partial aggregation
  for free; GROUP_CONCAT orders deterministically via sort_array, SAMPLE
  picks the deterministic MIN), and ``HAVING (...)`` to a post-aggregation
  filter whose comparisons treat aggregate aliases as the numeric columns
  they are. SUM/AVG decode typed-literal numeric values; MIN/MAX order
  term strings exactly like ORDER BY does;
- ``FILTER EXISTS`` / ``FILTER NOT EXISTS`` → left-semi / left-anti joins
  on the shared-variable domain (null-aware only when a shared variable
  can actually be unbound — the compiler TRACKS maybe-null variables so
  the common case stays a hash join); ``MINUS`` → left-anti with §18.5
  minus-compatibility (disjoint domains remove nothing, diverging from
  NOT EXISTS exactly as the spec demands). [NOT] EXISTS may also appear as
  an OPERAND of a larger boolean FILTER (``FILTER(EXISTS {...} || ?x >
  5)``): each embedded existence test precomputes a boolean marker column
  via a deduplicated left join, the expression filters over the markers,
  and the markers drop out — the pure form keeps the semi/anti fast path;
- ``BIND(expr AS ?v)`` and ``SELECT (expr AS ?v)`` expression projections:
  arithmetic over decoded numerics, STR/STRLEN/UCASE/LCASE/CONCAT,
  FLOOR/CEIL/ABS/ROUND, LANG/DATATYPE/COALESCE, IF(bool, a, b),
  STRBEFORE/STRAFTER (empty-needle spec edge cases included), SUBSTR,
  REPLACE (regex, every match) — string results materialize as
  plain-literal term strings, numeric results as native numeric columns
  visible to later FILTERs/GROUP BYs;
- subqueries ``{ SELECT ... }`` (§18.2.4): the inner query — aggregates,
  DISTINCT, ORDER BY + LIMIT and all — evaluates against the same dataset
  and joins the outer group on its PROJECTED variables only (compatibility
  join when a shared variable can be unbound on either side); a subselect
  can also stand as a UNION operand, and works under ``GRAPH ?var``
  (per-graph evaluation: the graph column becomes an implicit group /
  DISTINCT key and rides the projection; LIMIT/OFFSET slice per graph
  via a row_number window over the graph key);
- FILTER builtins: REGEX/BOUND plus STRSTARTS/STRENDS/CONTAINS/
  LANGMATCHES (basic language ranges) and isIRI/isLiteral/isBlank (the P3
  term-kind predicates surfaced to user SPARQL); comparison operands may
  be value expressions (``STRLEN(?x) + 1 > 5``, ``LANG(?l) = "en"`` —
  string-function sides compare in the string domain against the term
  side's literal value).

Subset contract: SELECT / ASK / DESCRIBE / CONSTRUCT queries over the forms
above ([NOT] EXISTS composes everywhere a boolean or value can appear:
FILTER and HAVING boolean expressions, BIND values and SELECT expression
projections — bare EXISTS materializes an xsd:boolean term; every
property path works under GRAPH ?var through the same evaluator as in the
default graph; subqueries under GRAPH ?var evaluate per
graph, with per-graph LIMIT/OFFSET windows). Any OTHER construct outside
the grammar above raises
``SparqlSyntaxError`` — never a silently wrong answer.
DESCRIBE-style fetches also exist as ``plans.query.from_uris``; programmatic
assembly (Q10) is the DataFrame/filter-dict API plus this text entry.

Term semantics: variables bind the engine's term strings (``<iri>``,
``_:b``, ``"lit"@lang``, ``"5"^^<dt>``). Comparisons between a variable and
a bare number compare the DECODED numeric value of typed literals
(try_cast — non-numeric terms compare null ⇒ false); everything else
compares term strings exactly.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from rdf2hk_spark import fixpoint
from rdf2hk_spark.constants import HK_NULL_URI as _HK_NULL_URI
from rdf2hk_spark.fixpoint import PathDepthError  # noqa: F401 (re-export)
from rdf2hk_spark.functions import terms as T
from rdf2hk_spark.plans.query import filter_hk


class SparqlSyntaxError(ValueError):
    pass


# --------------------------------------------------------------------------
# tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<iri><[^<>\s]*>)
      | (?P<var>\?\w+)
      | (?P<literal>"(?:[^"\\]|\\.)*"(?:@[A-Za-z0-9-]+|\^\^<[^<>\s]*>)?)
      | (?P<bnode>_:\w+)
      | (?P<num>[+-]?\d+(?:\.\d+)?)
      | (?P<punct>&&|\|\||!=|<=|>=|[{}().,;*+?/^|=<>!-])
      | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
    )""",
    re.X,
)

_ESCAPES = {
    "n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def _unescape_sparql(body: str) -> str:
    """P12 inverse: undo SPARQL literal escapes (sparqlhelper.js emits
    \\n/\\r/\\t/\\"/\\\\ when assembling literals), plus \\uXXXX /
    \\UXXXXXXXX codepoint escapes (SPARQL grammar UCHAR)."""
    out, i = [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt == "u" and re.fullmatch(r"[0-9A-Fa-f]{4}", body[i + 2 : i + 6]):
                out.append(chr(int(body[i + 2 : i + 6], 16)))
                i += 6
                continue
            if nxt == "U" and re.fullmatch(r"[0-9A-Fa-f]{8}", body[i + 2 : i + 10]):
                out.append(chr(int(body[i + 2 : i + 10], 16)))
                i += 10
                continue
            if nxt in ("u", "U"):
                raise SparqlSyntaxError(
                    f"malformed \\{nxt} escape in literal at ...{body[i:i+10]!r}"
                )
            out.append(_ESCAPES.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None or m.end() == pos:
            rest = text[pos:].strip()
            if not rest:
                break
            raise SparqlSyntaxError(f"cannot tokenize at: {rest[:40]!r}")
        pos = m.end()
        kind = m.lastgroup
        val = m.group(kind)
        if kind == "literal":
            mm = re.match(r'(?s)^"(.*)"((?:@[A-Za-z0-9-]+|\^\^<[^<>\s]*>)?)$', val)
            val = f'"{_unescape_sparql(mm.group(1))}"{mm.group(2)}'
        toks.append((kind, val))
    return toks


# --------------------------------------------------------------------------
# algebra
# --------------------------------------------------------------------------

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


@dataclass
class Pattern:
    s: str
    p: str
    o: str
    # property-path expression (modifier / sequence / alternative /
    # inverse / negated set); when set, ``p`` is unused
    pexpr: "object | None" = None


# ---- path-expression AST (predicate position) ----
@dataclass
class PIri:
    iri: str


@dataclass
class PInv:
    inner: object  # ^elt — pairs reversed


@dataclass
class PSeq:
    parts: list  # elt1 / elt2 / ... — relational composition


@dataclass
class PAlt:
    options: list  # (e1 | e2 | ...) — union


@dataclass
class PMod:
    inner: object
    op: str  # '*' | '+' | '?'


@dataclass
class PNeg:
    """``!<p>`` / ``!(<p1>|^<p2>|...)`` — negated property set. ``fwd``
    holds the forward members, ``inv`` the ``^``-prefixed inverse members.
    Per SPARQL 1.1 §18.2.2.3 the set splits: a forward step whose predicate
    is NOT in ``fwd`` (branch present iff fwd non-empty), union a REVERSED
    step whose predicate is NOT in ``inv`` (branch present iff inv
    non-empty) — ``!(^p)`` matches only reversed edges, never forward."""

    fwd: list
    inv: list


@dataclass
class Aggregate:
    """One ``(FUNC([DISTINCT] ?v|*) AS ?alias)`` projection item."""

    func: str  # COUNT | SUM | MIN | MAX | AVG | GROUP_CONCAT | SAMPLE
    distinct: bool
    arg: str | None  # variable name, or None for COUNT(*)
    alias: str
    separator: str = " "  # GROUP_CONCAT(...; SEPARATOR="...") only


@dataclass
class Filter:
    expr: "Expr"


@dataclass
class MultiValues:
    """``VALUES (?x ?y) { (<a> <b>) (UNDEF <c>) }`` — an inline data block.
    ``rows`` holds term strings with None for UNDEF (unbound: compatible
    with any binding of that variable)."""

    vars: list[str]
    rows: list[list["str | None"]]


@dataclass
class Optional_:
    group: "Group"


@dataclass
class ExistsFilter:
    """``FILTER [NOT] EXISTS { ... }`` — correlated existence test, compiled
    to a left-semi (positive) / left-anti join on the shared-variable
    domain. Group-scoped like any FILTER (applies after all patterns)."""

    group: "Group"
    positive: bool


@dataclass
class Minus:
    """``MINUS { ... }`` — SPARQL minus-compatibility semantics: remove a
    solution iff the inner group has a COMPATIBLE solution whose domain
    OVERLAPS it (disjoint domains remove nothing — the canonical divergence
    from NOT EXISTS). Applied in group order, not deferred."""

    group: "Group"


@dataclass
class Bind:
    """``BIND(expr AS ?var)`` — extend each solution with a computed value.
    Applied in group order; the variable must not already be in scope."""

    expr: "Expr"
    var: str


@dataclass
class GraphScope:
    """``GRAPH <g> { ... }`` / ``GRAPH ?g { ... }`` — scope the inner
    group's pattern scans to one named graph (a ``g`` equality filter —
    partition pruning on a gpart store) or bind the graph as a variable
    (``g`` projected into the bindings; the engine's null-graph sentinel
    is excluded, mirroring the spec's named-graphs-only iteration)."""

    term: str  # '<iri>' or '?var'
    group: "Group"


@dataclass
class Union:
    left: "Group"
    right: "Group"


@dataclass
class SubSelect:
    """``{ SELECT ... }`` nested inside a group (SPARQL 1.1 §18.2.4
    ToMultiSet): the inner query evaluates against the same dataset and
    contributes ONLY its projected columns, joined with the rest of the
    group on shared variables. Aggregates / DISTINCT / ORDER+LIMIT inside
    the subquery all apply before the join."""

    query: "Query"


@dataclass
class Group:
    items: list = field(default_factory=list)


@dataclass
class Expr:
    """FILTER expression node: op ∈ {and, or, not, cmp, in, regex, bound};
    leaves carry (kind, value) operands where kind ∈ {var, term, num}."""

    op: str
    args: list


@dataclass
class Query:
    variables: list[str]  # empty = SELECT *
    distinct: bool
    from_graphs: list[str]
    where: Group | None
    order_by: list[tuple[str, bool]]  # (var, ascending)
    limit: int | None
    offset: int = 0
    form: str = "select"  # select | ask | describe | construct
    describe_terms: list[str] = field(default_factory=list)  # ?var or <iri>
    template: list["Pattern"] = field(default_factory=list)  # construct
    # aggregate surface: SELECT items in source order — ("var", name) or
    # ("agg", Aggregate) — plus the GROUP BY variable list and the HAVING
    # constraint (an Expr over group keys / aggregate aliases)
    select_items: list[tuple] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    having: "Expr | None" = None


_MAX_DEPTH = 200


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0
        self.depth = 0  # group/paren nesting — bounded so hostile input
        # raises SparqlSyntaxError, not RecursionError (totality contract)

    def _enter(self) -> None:
        self.depth += 1
        if self.depth > _MAX_DEPTH:
            raise SparqlSyntaxError(f"nesting deeper than {_MAX_DEPTH}")

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def _peek2(self) -> tuple[str, str]:
        j = self.i + 1
        return self.toks[j] if j < len(self.toks) else ("eof", "")

    def next(self) -> tuple[str, str]:
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, val: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (val is not None and v.upper() != val.upper() and v != val):
            raise SparqlSyntaxError(f"expected {val or kind}, got {v!r}")
        return v

    def kw(self, word: str) -> bool:
        k, v = self.peek()
        if k == "word" and v.upper() == word:
            self.i += 1
            return True
        return False

    # ---- query ----
    def query(self) -> Query:
        if self.kw("ASK"):
            # ASK [FROM <g>]* [WHERE] { ... }
            from_graphs: list[str] = []
            while self.kw("FROM"):
                from_graphs.append(self.expect("iri"))
            self.kw("WHERE")  # optional keyword per the SPARQL grammar
            g = self.group()
            if self.peek()[0] != "eof":
                raise SparqlSyntaxError(
                    f"trailing tokens at {self.peek()[1]!r}"
                )
            return Query([], False, from_graphs, g, [], None, form="ask")
        if self.kw("DESCRIBE"):
            return self._describe()
        if self.kw("CONSTRUCT"):
            return self._construct()
        if not self.kw("SELECT"):
            k, v = self.peek()
            raise SparqlSyntaxError(
                "only SELECT/ASK/DESCRIBE/CONSTRUCT queries are supported"
                f" (got {v!r})"
            )
        return self._select(sub=False)

    def _select(self, sub: bool) -> Query:
        """The SELECT body (the SELECT keyword is already consumed). With
        ``sub=True`` this parses a SubSelect: no FROM dataset clause (the
        grammar forbids it — the subquery shares the outer dataset), WHERE
        keyword optional, and the caller consumes the closing brace instead
        of this method requiring EOF."""
        distinct = self.kw("DISTINCT")
        variables: list[str] = []
        select_items: list[tuple] = []
        if self.peek() == ("punct", "*"):
            self.next()
        else:
            while True:
                k, v = self.peek()
                if k == "var":
                    variables.append(self.next()[1][1:])
                    select_items.append(("var", variables[-1]))
                elif (k, v) == ("punct", "("):
                    select_items.append(self._select_paren())
                else:
                    break
            if not select_items:
                raise SparqlSyntaxError("SELECT needs variables or *")
        from_graphs: list[str] = []
        if not sub:
            while self.kw("FROM"):
                from_graphs.append(self.expect("iri"))
            self.expect("word", "WHERE")
        else:
            self.kw("WHERE")  # optional in a SubSelect per the grammar
        where = self.group()
        group_by: list[str] = []
        if self.kw("GROUP"):
            self.expect("word", "BY")
            while self.peek()[0] == "var":
                group_by.append(self.next()[1][1:])
            if not group_by:
                raise SparqlSyntaxError("GROUP BY needs at least one variable")
        having: Expr | None = None
        if self.kw("HAVING"):
            self.expect("punct", "(")
            having = self.expr()
            self.expect("punct", ")")
        order: list[tuple[str, bool]] = []
        if self.kw("ORDER"):
            self.expect("word", "BY")
            while True:
                k, v = self.peek()
                if k == "var":
                    order.append((self.next()[1][1:], True))
                elif k == "word" and v.upper() in ("ASC", "DESC"):
                    asc = self.next()[1].upper() == "ASC"
                    self.expect("punct", "(")
                    order.append((self.expect("var")[1:], asc))
                    self.expect("punct", ")")
                else:
                    break
        limit = None
        offset = 0
        # LIMIT/OFFSET in either order, each at most once (SPARQL grammar)
        seen = set()
        while True:
            if "limit" not in seen and self.kw("LIMIT"):
                seen.add("limit")
                limit = self._nonneg_int("LIMIT")
            elif "offset" not in seen and self.kw("OFFSET"):
                seen.add("offset")
                offset = self._nonneg_int("OFFSET")
            else:
                break
        if not sub and self.peek()[0] != "eof":
            raise SparqlSyntaxError(f"trailing tokens at {self.peek()[1]!r}")
        return Query(
            variables, distinct, from_graphs, where, order, limit,
            select_items=select_items, group_by=group_by, having=having,
            offset=offset,
        )

    def _nonneg_int(self, kw: str) -> int:
        raw = self.expect("num")
        if not raw.isdigit():
            raise SparqlSyntaxError(
                f"{kw} must be a non-negative integer, got {raw!r}"
            )
        return int(raw)

    _AGG_FUNCS = (
        "COUNT", "SUM", "MIN", "MAX", "AVG", "GROUP_CONCAT", "SAMPLE"
    )

    def _select_paren(self) -> tuple:
        """A parenthesized SELECT item: ``(FUNC(...) AS ?alias)`` when FUNC
        is an aggregate, else an expression projection
        ``(value-expr AS ?alias)`` → ("agg", Aggregate) | ("expr", (e, a))."""
        self.expect("punct", "(")
        k, v = self.peek()
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else ("eof", "")
        if k == "word" and v.upper() in self._AGG_FUNCS and nxt == ("punct", "("):
            return ("agg", self._aggregate_body())
        e = self.value_expr()
        self.expect("word", "AS")
        alias = self.expect("var")[1:]
        self.expect("punct", ")")
        return ("expr", (e, alias))

    def _aggregate_body(self) -> Aggregate:
        """FUNC '(' [DISTINCT] (?var|*) [';' SEPARATOR '=' lit] ')' AS
        ?alias ')' — the leading '(' is already consumed by _select_paren."""
        k, v = self.next()
        func = v.upper()
        self.expect("punct", "(")
        distinct = self.kw("DISTINCT")
        arg: str | None
        if self.peek() == ("punct", "*"):
            if func != "COUNT":
                raise SparqlSyntaxError(f"{func}(*) is not valid SPARQL")
            self.next()
            arg = None
        else:
            arg = self.expect("var")[1:]
        separator = " "
        if self.peek() == ("punct", ";"):
            if func != "GROUP_CONCAT":
                raise SparqlSyntaxError(
                    f"only GROUP_CONCAT takes a SEPARATOR, not {func}"
                )
            self.next()
            self.expect("word", "SEPARATOR")
            self.expect("punct", "=")
            kk, lit = self.next()
            if kk != "literal":
                raise SparqlSyntaxError("SEPARATOR must be a string literal")
            mm = re.match(r'(?s)^"(.*)"$', lit)
            if mm is None:
                raise SparqlSyntaxError(
                    "SEPARATOR must be a plain string literal"
                )
            separator = mm.group(1)
        self.expect("punct", ")")
        self.expect("word", "AS")
        alias = self.expect("var")[1:]
        self.expect("punct", ")")
        return Aggregate(func, distinct, arg, alias, separator)

    def _describe(self) -> Query:
        """DESCRIBE (?var | <iri>)+ [FROM <g>]* [WHERE group] — the form
        fromUris generates (sparqlfactory.js:342-410)."""
        terms: list[str] = []
        while True:
            k, v = self.peek()
            if k in ("var", "iri"):
                terms.append(self.next()[1])
            else:
                break
        if not terms:
            raise SparqlSyntaxError("DESCRIBE needs at least one term")
        from_graphs: list[str] = []
        while self.kw("FROM"):
            from_graphs.append(self.expect("iri"))
        where = self.group() if self.kw("WHERE") else None
        if self.peek()[0] != "eof":
            raise SparqlSyntaxError(f"trailing tokens at {self.peek()[1]!r}")
        return Query(
            [], False, from_graphs, where, [], None,
            form="describe", describe_terms=terms,
        )

    def _construct(self) -> Query:
        self.expect("punct", "{")
        template: list[Pattern] = []
        while self.peek() != ("punct", "}"):
            template.append(self.pattern(allow_path=False))
            if self.peek() == ("punct", "."):
                self.next()
        self.next()
        from_graphs: list[str] = []
        while self.kw("FROM"):
            from_graphs.append(self.expect("iri"))
        self.expect("word", "WHERE")
        where = self.group()
        if self.peek()[0] != "eof":
            raise SparqlSyntaxError(f"trailing tokens at {self.peek()[1]!r}")
        return Query(
            [], False, from_graphs, where, [], None,
            form="construct", template=template,
        )

    # ---- group ----
    def group(self) -> Group:
        self._enter()
        self.expect("punct", "{")
        g = Group()
        while True:
            k, v = self.peek()
            if (k, v) == ("punct", "}"):
                self.next()
                self.depth -= 1
                return g
            if k == "eof":
                raise SparqlSyntaxError("unterminated group")
            if k == "word" and v.upper() == "FILTER":
                self.next()
                g.items.append(self._filter_constraint())
            elif k == "word" and v.upper() == "MINUS":
                self.next()
                g.items.append(Minus(self.group()))
            elif k == "word" and v.upper() == "GRAPH":
                self.next()
                kk, vv = self.next()
                if kk not in ("iri", "var"):
                    raise SparqlSyntaxError(
                        f"GRAPH needs an IRI or variable, got {vv!r}"
                    )
                g.items.append(GraphScope(vv, self.group()))
            elif k == "word" and v.upper() == "BIND":
                self.next()
                self.expect("punct", "(")
                e = self.value_expr()
                self.expect("word", "AS")
                var = self.expect("var")[1:]
                self.expect("punct", ")")
                g.items.append(Bind(e, var))
            elif k == "word" and v.upper() == "VALUES":
                self.next()
                if self.peek() == ("punct", "("):
                    g.items.append(self._multi_values())
                else:
                    # single-var form: same algebra as the multi-var block
                    # (inline frame + compatibility join) — gets bag
                    # semantics for repeated terms and correct handling of
                    # a maybe-unbound shared variable for free
                    var = self.expect("var")[1:]
                    self.expect("punct", "{")
                    terms = []
                    while self.peek() != ("punct", "}"):
                        terms.append(self._term_token())
                    self.next()
                    g.items.append(MultiValues([var], [[t] for t in terms]))
            elif k == "word" and v.upper() == "OPTIONAL":
                self.next()
                g.items.append(Optional_(self.group()))
            elif (k, v) == ("punct", "{"):
                # GroupGraphPattern: a braced group OR a subselect — either
                # may be a UNION operand per the grammar
                left = self._group_or_subselect()
                if self.kw("UNION"):
                    right = self._group_or_subselect()
                    u = Union(left, right)
                    while self.kw("UNION"):
                        u = Union(Group([u]), self._group_or_subselect())
                    g.items.append(u)
                else:
                    g.items.append(left)
            else:
                g.items.append(self.pattern())
            if self.peek() == ("punct", "."):
                self.next()
        raise AssertionError

    def _group_or_subselect(self) -> Group:
        """A GroupGraphPattern operand: ``{ SELECT ... }`` wraps to a
        single-item Group (compiled identically standalone or as a UNION
        branch); anything else is an ordinary braced group."""
        if (
            self.peek() == ("punct", "{")
            and self._peek2()[0] == "word"
            and self._peek2()[1].upper() == "SELECT"
        ):
            self._enter()
            self.next()  # '{'
            self.next()  # SELECT
            subq = self._select(sub=True)
            self.expect("punct", "}")
            self.depth -= 1
            return Group([SubSelect(subq)])
        return self.group()

    def _multi_values(self) -> "MultiValues":
        """'(' ?var+ ')' '{' ('(' (term|UNDEF)* ')')* '}'."""
        self.expect("punct", "(")
        vars_: list[str] = []
        while self.peek()[0] == "var":
            vars_.append(self.next()[1][1:])
        self.expect("punct", ")")
        if not vars_:
            raise SparqlSyntaxError("VALUES needs at least one variable")
        if len(set(vars_)) != len(vars_):
            raise SparqlSyntaxError("duplicate variable in VALUES clause")
        self.expect("punct", "{")
        rows: list[list[str | None]] = []
        while self.peek() != ("punct", "}"):
            self.expect("punct", "(")
            row: list[str | None] = []
            while self.peek() != ("punct", ")"):
                k, v = self.peek()
                if k == "word" and v.upper() == "UNDEF":
                    self.next()
                    row.append(None)
                else:
                    row.append(self._term_token())
            self.next()
            if len(row) != len(vars_):
                raise SparqlSyntaxError(
                    f"VALUES row width {len(row)} != {len(vars_)} variables"
                )
            rows.append(row)
        self.next()
        return MultiValues(vars_, rows)

    def _filter_constraint(self):
        """The constraint after FILTER: ``EXISTS {..}`` / ``NOT EXISTS {..}``
        (BuiltInCall — no parentheses per the grammar) or a parenthesized
        boolean expression, in which [NOT] EXISTS may appear as an operand
        of a larger &&/||/! combination (compiled via boolean marker
        columns; a PURE [NOT] EXISTS keeps the direct semi/anti fast
        path)."""
        k, v = self.peek()
        if k == "word" and v.upper() in ("EXISTS", "NOT"):
            return self._exists()
        self.expect("punct", "(")
        e = self.expr()
        self.expect("punct", ")")
        return self._as_filter(e)

    @staticmethod
    def _as_filter(e: "Expr"):
        """Fold a parsed FILTER expression to the best algebra node: a bare
        (possibly !-negated) EXISTS becomes the semi/anti-join ExistsFilter;
        anything else stays a Filter expression."""
        if e.op == "exists":
            return ExistsFilter(e.args[0], e.args[1])
        if e.op == "not" and e.args[0].op == "exists":
            inner = e.args[0]
            return ExistsFilter(inner.args[0], not inner.args[1])
        return Filter(e)

    def _exists(self) -> "ExistsFilter":
        positive = True
        if self.kw("NOT"):
            positive = False
        self.expect("word", "EXISTS")
        return ExistsFilter(self.group(), positive)

    # ---- value expressions (BIND / SELECT-expression projections) ----
    # precedence: additive < multiplicative < unary < primary

    _VALUE_FUNCS = (
        "STR", "STRLEN", "UCASE", "LCASE", "CONCAT",
        "FLOOR", "CEIL", "ABS", "ROUND",
        "LANG", "DATATYPE", "COALESCE",
        "IF", "STRBEFORE", "STRAFTER", "SUBSTR", "REPLACE",
    )
    # (min, max) argument counts; max None = unbounded; absent = exactly 1
    _VALUE_FUNC_ARITY = {
        "CONCAT": (1, None), "COALESCE": (1, None),
        "STRBEFORE": (2, 2), "STRAFTER": (2, 2),
        "SUBSTR": (2, 3), "REPLACE": (3, 3),
    }
    # boolean builtins usable as a FILTER constraint or comparison operand
    _BOOL_FUNCS = (
        "STRSTARTS", "STRENDS", "CONTAINS", "LANGMATCHES",
        "ISIRI", "ISURI", "ISLITERAL", "ISBLANK",
    )

    def value_expr(self) -> Expr:
        self._enter()
        e = self._add_expr()
        self.depth -= 1
        return e

    def _add_expr(self) -> Expr:
        e = self._mul_expr()
        while True:
            k, v = self.peek()
            if (k, v) == ("punct", "+"):
                self.next()
                e = Expr("add", [e, self._mul_expr()])
            elif (k, v) == ("punct", "-"):
                self.next()
                e = Expr("sub", [e, self._mul_expr()])
            elif k == "num" and v[0] in "+-":
                # '?x+2' tokenizes the sign into the number — unfold it
                self.next()
                e = Expr(
                    "add" if v[0] == "+" else "sub",
                    [e, Expr("val", [("num", float(v[1:]))])],
                )
            else:
                return e

    def _mul_expr(self) -> Expr:
        e = self._unary_expr()
        while self.peek() in (("punct", "*"), ("punct", "/")):
            op = self.next()[1]
            e = Expr("mul" if op == "*" else "div", [e, self._unary_expr()])
        return e

    def _unary_expr(self) -> Expr:
        k, v = self.peek()
        if (k, v) == ("punct", "-"):
            self.next()
            return Expr("neg", [self._unary_expr()])
        if (k, v) == ("punct", "+"):
            self.next()
            return self._unary_expr()
        if (k, v) == ("punct", "("):
            self._enter()
            self.next()
            e = self._add_expr()
            self.expect("punct", ")")
            self.depth -= 1
            return e
        if k == "word" and (
            v.upper() == "EXISTS"
            or (
                v.upper() == "NOT"
                and self._peek2()[0] == "word"
                and self._peek2()[1].upper() == "EXISTS"
            )
        ):
            # bare [NOT] EXISTS as a VALUE (``BIND(EXISTS {..} AS ?v)``)
            # — materializes as an xsd:boolean term after marker hoisting
            neg = v.upper() == "NOT"
            self.next()
            if neg:
                self.next()
            return Expr("exists", [self.group(), not neg])
        if k == "word" and v.upper() in self._VALUE_FUNCS:
            fname = self.next()[1].upper()
            self.expect("punct", "(")
            if fname == "IF":
                # first argument is a BOOLEAN expression (the FILTER
                # grammar: comparisons, &&/||/!, boolean builtins)
                args = [self.expr()]
                self.expect("punct", ",")
                args.append(self.value_expr())
                self.expect("punct", ",")
                args.append(self.value_expr())
                self.expect("punct", ")")
                return Expr("if", args)
            args = [self.value_expr()]
            while self.peek() == ("punct", ","):
                self.next()
                args.append(self.value_expr())
            self.expect("punct", ")")
            lo, hi = self._VALUE_FUNC_ARITY.get(fname, (1, 1))
            if len(args) < lo or (hi is not None and len(args) > hi):
                raise SparqlSyntaxError(
                    f"{fname} takes {lo}"
                    + (f"-{hi}" if hi not in (lo, None) else "")
                    + (" or more" if hi is None else "")
                    + f" argument(s), got {len(args)}"
                )
            return Expr(fname.lower(), args)
        return Expr("val", [self._operand()])

    def _term_token(self) -> str:
        k, v = self.next()
        if k in ("iri", "literal", "bnode"):
            return v
        if k == "num":
            dt = (
                "<http://www.w3.org/2001/XMLSchema#integer>"
                if "." not in v
                else "<http://www.w3.org/2001/XMLSchema#decimal>"
            )
            return f'"{v}"^^{dt}'
        if k == "word" and v == "a":
            return RDF_TYPE
        raise SparqlSyntaxError(f"expected an RDF term, got {v!r}")

    def pattern(self, allow_path: bool = True) -> Pattern:
        def part() -> str:
            k, v = self.peek()
            if k == "var":
                self.next()
                return v
            return self._term_token()

        s = part()
        if self.peek()[0] == "var":  # variable predicate: never a path
            p = self.next()[1]
            return Pattern(s, p, part())
        node = self._path_seq(allow_path)
        o = part()
        # a plain predicate scans directly; anything else is a path (a lone
        # '?' only tokenizes as punct when no variable name follows, so
        # `<p>? ?o` is a path and `<p> ?o` is a plain object variable)
        if isinstance(node, PIri):
            return Pattern(s, node.iri, o)
        return Pattern(s, "", o, pexpr=node)

    def _no_path(self, allow_path: bool) -> None:
        if not allow_path:
            raise SparqlSyntaxError(
                "property paths are not allowed in a CONSTRUCT template"
            )

    def _path_seq(self, allow_path: bool):
        parts = [self._path_elt(allow_path)]
        while self.peek() == ("punct", "/"):
            self._no_path(allow_path)
            self.next()
            parts.append(self._path_elt(allow_path))
        return parts[0] if len(parts) == 1 else PSeq(parts)

    def _path_elt(self, allow_path: bool):
        prim = self._path_prim(allow_path)
        k, v = self.peek()
        if k == "punct" and v in ("*", "+", "?"):
            self._no_path(allow_path)
            self.next()
            return PMod(prim, v)
        return prim

    def _path_prim(self, allow_path: bool):
        k, v = self.peek()
        if (k, v) == ("punct", "!"):
            # negated property set: !<p> / !^<p> / !(<p1>|^<p2>|...) —
            # forward and ^-inverse members split per SPARQL 1.1 §18.2.2.3
            self._no_path(allow_path)
            self.next()
            fwd: list[str] = []
            inv: list[str] = []

            def member() -> None:
                if self.peek() == ("punct", "^"):
                    self.next()
                    inv.append(self._term_token())
                else:
                    fwd.append(self._term_token())

            if self.peek() == ("punct", "("):
                self.next()
                member()
                while self.peek() == ("punct", "|"):
                    self.next()
                    member()
                self.expect("punct", ")")
            else:
                member()
            return PNeg(fwd, inv)
        if (k, v) == ("punct", "^"):
            self._no_path(allow_path)
            self._enter()
            self.next()
            if self.peek() == ("punct", "^"):
                # grammar: PathEltOrInverse allows a SINGLE '^' — a bare
                # run like ^^<p> is invalid SPARQL and must not silently
                # answer as the double inverse (^(^<p>) stays legal)
                raise SparqlSyntaxError("'^' may not be repeated directly")
            inner = self._path_prim(allow_path)
            self.depth -= 1
            return PInv(inner)
        if (k, v) == ("punct", "("):
            self._no_path(allow_path)
            self._enter()
            self.next()
            opts = [self._path_seq(allow_path)]
            while self.peek() == ("punct", "|"):
                self.next()
                opts.append(self._path_seq(allow_path))
            self.expect("punct", ")")
            self.depth -= 1
            return opts[0] if len(opts) == 1 else PAlt(opts)
        return PIri(self._term_token())

    # ---- FILTER expressions (precedence: || < && < ! < cmp) ----
    def expr(self) -> Expr:
        e = self.expr_and()
        while self.peek() == ("punct", "||"):
            self.next()
            e = Expr("or", [e, self.expr_and()])
        return e

    def expr_and(self) -> Expr:
        e = self.expr_not()
        while self.peek() == ("punct", "&&"):
            self.next()
            e = Expr("and", [e, self.expr_not()])
        return e

    def expr_not(self) -> Expr:
        # iterative, with parity collapse (!!x = x) — a hostile run of '!'
        # can neither recurse the parser nor nest the compiled Expr tree
        negate = False
        while self.peek() == ("punct", "!"):
            self.next()
            negate = not negate
        e = self.expr_cmp()
        return Expr("not", [e]) if negate else e

    def _operand(self):
        k, v = self.peek()
        if k == "var":
            self.next()
            return ("var", v[1:])
        if k == "num":
            self.next()
            return ("num", float(v))
        return ("term", self._term_token())

    def _operand_list(self):
        """'(' operand (',' operand)* ')' — the IN/NOT IN tail."""
        self.expect("punct", "(")
        terms = [self._operand()]
        while self.peek() == ("punct", ","):
            self.next()
            terms.append(self._operand())
        self.expect("punct", ")")
        return terms

    def expr_cmp(self) -> Expr:
        k, v = self.peek()
        if (k, v) == ("punct", "("):
            self._enter()
            self.next()
            e = self.expr()
            self.expect("punct", ")")
            self.depth -= 1
            return e
        if k == "word" and v.upper() == "EXISTS":
            self.next()
            return Expr("exists", [self.group(), True])
        if k == "word" and v.upper() == "NOT" and (
            self._peek2()[0] == "word"
            and self._peek2()[1].upper() == "EXISTS"
        ):
            self.next()
            self.next()
            return Expr("exists", [self.group(), False])
        if k == "word" and v.upper() == "REGEX":
            self.next()
            self.expect("punct", "(")
            target = self._operand()
            self.expect("punct", ",")
            kk, pat = self.next()
            if kk != "literal":
                raise SparqlSyntaxError("REGEX pattern must be a string")
            self.expect("punct", ")")
            return Expr("regex", [target, re.match(r'(?s)^"(.*)"', pat).group(1)])
        if k == "word" and v.upper() == "BOUND":
            self.next()
            self.expect("punct", "(")
            var = self.expect("var")[1:]
            self.expect("punct", ")")
            return Expr("bound", [var])
        if k == "word" and v.upper() in self._BOOL_FUNCS:
            fname = self.next()[1].upper()
            if fname == "ISURI":
                fname = "ISIRI"  # spec synonym
            self.expect("punct", "(")
            args = [self.value_expr()]
            while self.peek() == ("punct", ","):
                self.next()
                args.append(self.value_expr())
            self.expect("punct", ")")
            want = 2 if fname in ("STRSTARTS", "STRENDS", "CONTAINS",
                                  "LANGMATCHES") else 1
            if len(args) != want:
                raise SparqlSyntaxError(
                    f"{fname} takes exactly {want} argument(s)"
                )
            return Expr(fname.lower(), args)
        left = self._cmp_operand()
        k, op = self.peek()
        if k == "word" and op.upper() == "IN":
            self.next()
            return Expr("in", [left, self._operand_list()])
        if k == "word" and op.upper() == "NOT":
            self.next()
            self.expect("word", "IN")
            return Expr("not", [Expr("in", [left, self._operand_list()])])
        if k == "punct" and op in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            right = self._cmp_operand()
            return Expr("cmp", [op, left, right])
        raise SparqlSyntaxError(f"cannot parse FILTER at {op!r}")

    def _cmp_operand(self):
        """A comparison side: a plain operand tuple (var/num/term — the
        original fast path) or a VALUE expression when it starts with a
        value function (``STRLEN(?x) + 1 > 5``, ``LANG(?l) = "en"``)."""
        k, v = self.peek()
        if k == "word" and v.upper() in self._VALUE_FUNCS:
            return self.value_expr()
        return self._operand()


def parse_sparql(text: str) -> Query:
    return _Parser(_tokenize(text)).query()


# --------------------------------------------------------------------------
# compiler
# --------------------------------------------------------------------------


def _numeric(col: Column) -> Column:
    # Column.try_cast (no F.try_cast in this PySpark): null on non-numeric
    # instead of an ANSI cast error
    return T.literal_value(col).try_cast("double")


def _operand_col(operand, frame_cols: set[str], numeric_cols: set[str] = frozenset()):
    kind, v = operand
    if kind == "var":
        if v not in frame_cols:
            raise SparqlSyntaxError(f"unbound variable ?{v} in FILTER")
        # a column that is ALREADY numeric (an aggregate alias in HAVING)
        # must not go through the term-string literal decode
        return F.col(v), v in numeric_cols
    if kind == "num":
        return F.lit(v), True
    return F.lit(v), False


def _compile_expr(
    e: Expr,
    frame_cols: set[str],
    _depth: int = 0,
    numeric_cols: set[str] = frozenset(),
) -> Column:
    if _depth > _MAX_DEPTH:
        # long || / && chains parse iteratively but nest the Expr tree —
        # bound the compiler the same way the parser bounds groups/parens
        raise SparqlSyntaxError(f"FILTER expression deeper than {_MAX_DEPTH}")
    d = _depth + 1
    if e.op == "and":
        return _compile_expr(e.args[0], frame_cols, d, numeric_cols) & _compile_expr(e.args[1], frame_cols, d, numeric_cols)
    if e.op == "or":
        return _compile_expr(e.args[0], frame_cols, d, numeric_cols) | _compile_expr(e.args[1], frame_cols, d, numeric_cols)
    if e.op == "not":
        return ~_compile_expr(e.args[0], frame_cols, d, numeric_cols)
    if e.op == "bound":
        var = e.args[0]
        return F.col(var).isNotNull() if var in frame_cols else F.lit(False)
    if e.op == "marker":
        # a precomputed EXISTS marker column (see _apply_filter): null
        # means the probe found no match — boolean False
        return F.coalesce(F.col(e.args[0]), F.lit(False))
    if e.op == "exists":
        # defensive: every syntactic EXISTS position (FILTER, HAVING,
        # BIND, SELECT expressions) hoists to markers before compiling
        raise SparqlSyntaxError(
            "[NOT] EXISTS reached the expression compiler un-hoisted"
        )
    if e.op == "regex":
        col, _ = _operand_col(e.args[0], frame_cols)
        return F.coalesce(T.literal_value(col), col).rlike(e.args[1])
    if e.op == "in":
        # compile as an OR of equality comparisons so every operand kind gets
        # cmp's semantics — numeric operands decode typed literals (a raw
        # isin would ANSI-cast the term string and crash), and variable
        # operands compare the BOUND column, not the variable's name string.
        # Catalyst rewrites the plain-equality OR chain to InSet anyway.
        out = F.lit(False)
        for operand in e.args[1]:
            out = out | _compile_expr(
                Expr("cmp", ["=", e.args[0], operand]), frame_cols, d,
                numeric_cols,
            )
        return out
    if e.op == "cmp":
        op, lhs, rhs = e.args
        lcol, lk = _cmp_side(lhs, frame_cols, numeric_cols, d)
        rcol, rk = _cmp_side(rhs, frame_cols, numeric_cols, d)
        if lk == "num" or rk == "num":
            # numeric comparison: decode typed-literal / raw-string values
            if lk != "num":
                lcol = _numeric(lcol)
            if rk != "num":
                rcol = _numeric(rcol)
        elif lk == "str" or rk == "str":
            # a string-function side compares in the STRING domain: the
            # term side contributes its literal VALUE (LANG(?l) = "en"
            # compares 'en' with 'en', not with '"en"')
            if lk == "term":
                lcol = _str_domain(lcol)
            if rk == "term":
                rcol = _str_domain(rcol)
        ops = {
            "=": lambda a, b: a == b,
            "!=": lambda a, b: a != b,
            "<": lambda a, b: a < b,
            "<=": lambda a, b: a <= b,
            ">": lambda a, b: a > b,
            ">=": lambda a, b: a >= b,
        }
        return ops[op](lcol, rcol)
    if e.op in ("strstarts", "strends", "contains"):
        a = _str_of(e.args[0], frame_cols, numeric_cols, d)
        b = _str_of(e.args[1], frame_cols, numeric_cols, d)
        return {
            "strstarts": lambda: a.startswith(b),
            "strends": lambda: a.endswith(b),
            "contains": lambda: a.contains(b),
        }[e.op]()
    if e.op == "langmatches":
        a = _str_of(e.args[0], frame_cols, numeric_cols, d)
        b = _str_of(e.args[1], frame_cols, numeric_cols, d)
        # basic language ranges (RFC 4647 §2.1): '*' matches any non-empty
        # tag; otherwise case-insensitive exact tag or prefix-with-'-'
        return F.when(b == "*", F.length(a) > 0).otherwise(
            (F.upper(a) == F.upper(b))
            | F.upper(a).startswith(F.concat(F.upper(b), F.lit("-")))
        )
    if e.op in ("isiri", "isliteral", "isblank"):
        c, k = _compile_value(e.args[0], frame_cols, numeric_cols, d)
        if k != "term":
            # a computed string/number IS a literal value, never IRI/bnode
            return F.lit(e.op == "isliteral") & c.isNotNull()
        return {
            "isiri": T.is_uri,
            "isliteral": T.is_literal,
            "isblank": T.is_blank_node,
        }[e.op](c)
    raise SparqlSyntaxError(f"unknown expression {e.op}")


def _str_domain(col: Column) -> Column:
    """Term string → its STRING-domain value: a literal's lexical form,
    anything else (raw computed strings pass literal_value through) as-is."""
    return F.coalesce(T.literal_value(col), col)


def _cmp_side(x, frame_cols: set[str], numeric_cols: set[str], d: int):
    """A comparison side: an operand tuple (the original var/num/term fast
    path) or a value Expr — both to (Column, kind)."""
    if isinstance(x, Expr):
        return _compile_value(x, frame_cols, numeric_cols, d)
    col, isnum = _operand_col(x, frame_cols, numeric_cols)
    return col, ("num" if isnum else "term")


def _str_of(x, frame_cols: set[str], numeric_cols: set[str], d: int) -> Column:
    """A boolean-builtin argument coerced to the string domain."""
    c, k = _cmp_side(x, frame_cols, numeric_cols, d)
    if k == "num":
        return c.cast("string")
    if k == "term":
        return _str_domain(c)
    return c


_NUMERIC_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def _numeric_dtype_cols(df: DataFrame) -> set[str]:
    """Columns already carrying NATIVE numeric values (BIND results,
    aggregate aliases) — these must never go through the term-string
    literal decode in comparisons."""
    return {
        n
        for n, dt in df.dtypes
        if dt in _NUMERIC_DTYPES or dt.startswith("decimal")
    }


def _compile_value(
    e: Expr,
    frame_cols: set[str],
    numeric_cols: set[str],
    _depth: int = 0,
) -> tuple[Column, str]:
    """Compile a VALUE expression (BIND / SELECT expression projection) →
    (Column, kind), kind ∈ {'num', 'str', 'term'}:

    - arithmetic (+ - * / unary-) decodes term-string operands to doubles
      (``try_cast`` — non-numeric terms become null, SPARQL's type-error-
      drops-the-row semantic under the later filter/projection);
    - STR yields the RAW text: IRI without angle brackets, literal lexical
      form, numbers rendered by cast — a 'str'. STRLEN/UCASE/LCASE/CONCAT
      operate on that; FLOOR/CEIL/ABS/ROUND are numeric;
    - 'str' results stay raw INTERNALLY so nested string functions do not
      double-quote; ``_value_as_term_or_num`` wraps the final result as a
      plain-literal term string (``"..."``), keeping every materialized
      variable inside the engine's term-string model. 'num' results stay
      NATIVE numeric columns (aggregate-alias-style) — later FILTERs see
      them through ``numeric_cols``."""
    if _depth > _MAX_DEPTH:
        raise SparqlSyntaxError(f"expression deeper than {_MAX_DEPTH}")
    d = _depth + 1
    if e.op in ("marker", "not"):
        # a hoisted [NOT] EXISTS used as a VALUE (``BIND(EXISTS {..} AS
        # ?v)``): the precomputed marker column materializes as an
        # xsd:boolean term, SPARQL's effective-boolean-value domain
        cond = _compile_expr(e, frame_cols, d, numeric_cols)
        return (
            F.when(cond, F.lit(_TRUE_TERM)).otherwise(F.lit(_FALSE_TERM)),
            "term",
        )
    if e.op == "val":
        kind, v = e.args[0]
        if kind == "var":
            if v not in frame_cols:
                raise SparqlSyntaxError(f"unbound variable ?{v} in expression")
            return F.col(v), ("num" if v in numeric_cols else "term")
        if kind == "num":
            return F.lit(v), "num"
        return F.lit(v), "term"
    if e.op in ("add", "sub", "mul", "div"):
        l, lk = _compile_value(e.args[0], frame_cols, numeric_cols, d)
        r, rk = _compile_value(e.args[1], frame_cols, numeric_cols, d)
        l = l if lk == "num" else _numeric(l)
        r = r if rk == "num" else _numeric(r)
        out = {
            "add": lambda: l + r,
            "sub": lambda: l - r,
            "mul": lambda: l * r,
            "div": lambda: l / r,
        }[e.op]()
        return out, "num"
    if e.op == "neg":
        c, k = _compile_value(e.args[0], frame_cols, numeric_cols, d)
        return -(c if k == "num" else _numeric(c)), "num"
    if e.op in ("floor", "ceil", "abs", "round"):
        c, k = _compile_value(e.args[0], frame_cols, numeric_cols, d)
        c = c if k == "num" else _numeric(c)
        fn = {"floor": F.floor, "ceil": F.ceil, "abs": F.abs, "round": F.round}
        # floor/ceil return LONG in Spark but DOUBLE in most SQL engines —
        # normalize to double so downstream arithmetic/oracles agree
        return fn[e.op](c).cast("double"), "num"
    if e.op == "str":
        c, k = _compile_value(e.args[0], frame_cols, numeric_cols, d)
        if k == "num":
            return c.cast("string"), "str"
        if k == "str":
            return c, "str"
        return (
            F.when(
                c.startswith("<") & c.endswith(">"),
                F.regexp_extract(c, r"(?s)^<(.*)>$", 1),
            ).otherwise(F.coalesce(T.literal_value(c), c)),
            "str",
        )
    if e.op in ("strlen", "ucase", "lcase"):
        s, _ = _compile_value(
            Expr("str", [e.args[0]]), frame_cols, numeric_cols, d
        )
        if e.op == "strlen":
            return F.length(s).cast("bigint"), "num"
        return (F.upper(s) if e.op == "ucase" else F.lower(s)), "str"
    if e.op == "concat":
        parts = [
            _compile_value(Expr("str", [a]), frame_cols, numeric_cols, d)[0]
            for a in e.args
        ]
        return F.concat(*parts), "str"
    if e.op == "lang":
        c, k = _compile_value(e.args[0], frame_cols, numeric_cols, d)
        if k != "term":
            return F.lit(""), "str"  # computed values carry no language tag
        return F.coalesce(T.literal_lang(c), F.lit("")), "str"
    if e.op == "datatype":
        c, k = _compile_value(e.args[0], frame_cols, numeric_cols, d)
        if k != "term":
            raise SparqlSyntaxError("DATATYPE needs an RDF term argument")
        dt = T.literal_datatype(c)
        return (
            F.when(dt.isNotNull(), dt)
            .when(T.literal_lang(c).isNotNull(), F.lit(_RDF_LANGSTRING))
            .when(T.is_literal(c), F.lit(_XSD_STRING))
            .otherwise(F.lit(None).cast("string")),  # IRI/bnode: type error
            "term",
        )
    if e.op == "coalesce":
        pairs = [
            _compile_value(a, frame_cols, numeric_cols, d) for a in e.args
        ]
        kinds = {k for _, k in pairs}
        if len(kinds) != 1:
            raise SparqlSyntaxError(
                "COALESCE arguments must share one domain"
                " (all numeric, all string, or all terms)"
            )
        return F.coalesce(*[c for c, _ in pairs]), kinds.pop()
    if e.op == "if":
        cond = _compile_expr(e.args[0], frame_cols, d, numeric_cols)
        t, tk = _compile_value(e.args[1], frame_cols, numeric_cols, d)
        f_, fk = _compile_value(e.args[2], frame_cols, numeric_cols, d)
        if tk != fk:
            raise SparqlSyntaxError(
                "IF branches must share one domain"
                " (both numeric, both string, or both terms)"
            )
        return F.when(cond, t).otherwise(f_), tk
    if e.op in ("strbefore", "strafter"):
        s, _ = _compile_value(Expr("str", [e.args[0]]), frame_cols, numeric_cols, d)
        p, _ = _compile_value(Expr("str", [e.args[1]]), frame_cols, numeric_cols, d)
        # Column-valued needle: the SQL instr(str, substr) form (the PySpark
        # wrapper's substr parameter is typed str-only; call_function feeds
        # the raw SQL function, which takes any expression)
        pos = F.call_function("instr", s, p)
        if e.op == "strbefore":
            # spec: empty needle → ""; absent needle → ""
            out = F.when(F.length(p) == 0, F.lit("")).otherwise(
                F.when(pos > 0, F.substring(s, F.lit(1), pos - 1)).otherwise(
                    F.lit("")
                )
            )
        else:
            # spec: empty needle → the whole string; absent needle → ""
            out = F.when(F.length(p) == 0, s).otherwise(
                F.when(
                    pos > 0,
                    F.substring(s, pos + F.length(p), F.length(s)),
                ).otherwise(F.lit(""))
            )
        return out, "str"
    if e.op == "substr":
        s, _ = _compile_value(Expr("str", [e.args[0]]), frame_cols, numeric_cols, d)
        st, sk = _compile_value(e.args[1], frame_cols, numeric_cols, d)
        st = (st if sk == "num" else _numeric(st)).cast("int")
        if len(e.args) == 3:
            ln, lk = _compile_value(e.args[2], frame_cols, numeric_cols, d)
            ln = (ln if lk == "num" else _numeric(ln)).cast("int")
        else:
            ln = F.length(s)
        return F.substring(s, st, ln), "str"
    if e.op == "replace":
        s, _ = _compile_value(Expr("str", [e.args[0]]), frame_cols, numeric_cols, d)
        pat, _ = _compile_value(Expr("str", [e.args[1]]), frame_cols, numeric_cols, d)
        rep, _ = _compile_value(Expr("str", [e.args[2]]), frame_cols, numeric_cols, d)
        # regex semantics (SPARQL REPLACE = fn:replace); Spark's
        # regexp_replace replaces EVERY match, matching the spec
        return F.regexp_replace(s, pat, rep), "str"
    raise SparqlSyntaxError(f"unknown value expression {e.op}")


_XSD_STRING = "<http://www.w3.org/2001/XMLSchema#string>"
_RDF_LANGSTRING = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>"
_TRUE_TERM = '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>'
_FALSE_TERM = '"false"^^<http://www.w3.org/2001/XMLSchema#boolean>'


def _value_as_term_or_num(
    e: Expr, frame_cols: set[str], numeric_cols: set[str]
) -> tuple[Column, str]:
    """Materialize a value expression: string results become plain-literal
    TERM strings (``"..."`` — comparable with literal tokens in later
    FILTERs and with the rest of the term-string variable model); numeric
    results stay native numeric columns."""
    c, k = _compile_value(e, frame_cols, numeric_cols)
    if k == "str":
        return F.concat(F.lit('"'), c, F.lit('"')), "str"
    return c, k


def _scan(
    quads: DataFrame, pat: Pattern, graph_var: str | None = None
) -> DataFrame:
    cols = {}
    filters: list[Column] = []
    positions = [("s", pat.s), ("p", pat.p), ("o", pat.o)]
    if graph_var is not None:
        # inside GRAPH ?v: every scan also binds the graph column — shared
        # with other patterns' graph bindings (and any same-named pattern
        # variable) through the ordinary join-on-shared-columns machinery
        positions.append(("g", "?" + graph_var))
    for pos, term in positions:
        if term.startswith("?"):
            var = term[1:]
            if var in cols:  # repeated var within one pattern
                filters.append(F.col(pos) == F.col(cols[var]))
            else:
                cols[var] = pos
        else:
            filters.append(F.col(pos) == term)
    out = quads
    for f in filters:
        out = out.filter(f)
    return out.select(*[F.col(pos).alias(var) for var, pos in cols.items()])


# --------------------------------------------------------------------------
# property paths: one evaluator (_scan_path → _path_pairs →
# _bind_path_endpoints) for the default graph and GRAPH ?var, compiled to
# bounded fixpoint joins (the reference's generated hasParent* /
# REFERENCES_URI? forms, sparqlfactory.js:718-744,800 — the same
# rdf2hk_spark.fixpoint loop as plans.query's Q4 closure). Path depth is
# bounded by fixpoint.MAX_ROUNDS: a legal query never turns into an
# UNTYPED failure — a deeper graph raises PathDepthError.
# --------------------------------------------------------------------------

def _path_key(g: Column, n: Column, graph_var: str | None) -> Column:
    """A path endpoint: the plain node in the default graph; under
    ``GRAPH ?var`` the composite ``struct(g, n)``, so a step relation over
    these keys never crosses graphs and every closure is per graph."""
    if graph_var is None:
        return n
    return F.struct(g.alias("g"), n.alias("n"))


def _path_graphs(quads: DataFrame, graph_var: str | None) -> DataFrame:
    """The graphs a path evaluates in — the source of zero-length
    diagonals, ground seeds and the both-ground identity: one zero-column
    row for the default graph, the distinct named graphs (column ``g``)
    under ``GRAPH ?var``."""
    if graph_var is None:
        return quads.sparkSession.range(1).select()
    return quads.select("g").distinct()


def _reachable_from(
    edges: DataFrame, seeds: DataFrame, forward: bool
) -> DataFrame:
    """Multi-seed frontier BFS: nodes reachable in ≥1 step from ANY seed
    (``seeds``: one column ``n``, same type as the edge endpoints — plain
    strings or composite (g, n) structs). With composite per-graph edges
    (steps never cross graphs) per-seed attribution is implicit in the
    struct's ``g`` field, which is what lets a ground endpoint under
    ``GRAPH ?var`` seed one BFS across all graphs at once instead of
    materializing the full per-graph closure. Depth ≤ eccentricity,
    bounded by ``fixpoint.MAX_ROUNDS``."""
    a, b = ("src", "dst") if forward else ("dst", "src")
    return fixpoint.closure(
        lambda frontier: edges.join(frontier.select(F.col("n").alias(a)), a)
        .select(F.col(b).alias("n"))
        .distinct(),
        seeds,
        seeds.limit(0),
    )


def _closure_pairs(edges: DataFrame) -> DataFrame:
    """All (src, dst) pairs connected by ≥1 step: semi-naive transitive
    closure — each round extends only the LAST round's new pairs by one
    edge (delta join), so round k discovers exactly the distance-(k+1)
    pairs. ``edges`` is already checkpointed by the caller — no
    re-materialization here."""
    return fixpoint.closure(
        lambda delta: delta.select("src", F.col("dst").alias("_mid"))
        .join(edges.select(F.col("src").alias("_mid"), "dst"), "_mid")
        .select("src", "dst")
        .distinct(),
        edges,
        edges,
    )


def _scan_path(
    quads: DataFrame, pat: Pattern, graph_var: str | None
) -> DataFrame:
    """Compile a path pattern to a bindings frame, in the default graph
    (``graph_var`` None) or per named graph under ``GRAPH ?var``.

    Under a graph variable the quad frame's endpoints are re-encoded as
    :func:`_path_key` structs BEFORE the pair-relation evaluation —
    :func:`_path_pairs` touches only (s, p, o) with predicate filters and
    src/dst joins, so it runs unchanged over composite keys, and one
    evaluation covers ALL named graphs (no per-graph loop).

    A TOP-LEVEL ``*``/``+`` with a ground endpoint (``<root> ^<parent>+
    ?d``, ``?c <hasParent>* <r1>``) takes the directional frontier BFS
    from the constant, seeded in every graph of the scope — never the
    global closure-then-filter, which would materialize every connected
    pair to keep one source."""
    node = pat.pexpr
    keyed = quads
    if graph_var is not None:
        keyed = quads.select(
            _path_key(F.col("g"), F.col("s"), graph_var).alias("s"),
            F.col("p"),
            _path_key(F.col("g"), F.col("o"), graph_var).alias("o"),
        )
    forward = not pat.s.startswith("?")  # ground start ⇒ walk src→dst
    if not (
        isinstance(node, PMod)
        and node.op in ("*", "+")
        and (forward or not pat.o.startswith("?"))
    ):
        pairs, zero = _path_pairs(keyed, node)
        return _bind_path_endpoints(quads, pat, pairs, zero, graph_var)
    inner, inner_zero = _path_pairs(keyed, node.inner)
    # (P ∪ id)+ = P*: an inner zero component upgrades + to *
    zero = node.op == "*" or inner_zero
    if zero and pat.s == pat.o:
        # one constant at both ends: the zero-length identity answers it
        return _bind_path_endpoints(quads, pat, inner, zero, graph_var)
    edges = fixpoint.checkpoint(inner.distinct())
    ground = F.lit(pat.s if forward else pat.o)
    seeds = _path_graphs(quads, graph_var).select(
        _path_key(F.col("g"), ground, graph_var).alias("n")
    )
    reach = _reachable_from(edges, seeds, forward)
    start = _path_key(F.col("n").getField("g"), ground, graph_var)
    a, b = ("src", "dst") if forward else ("dst", "src")
    pairs = reach.select(start.alias(a), F.col("n").alias(b))
    return _bind_path_endpoints(quads, pat, pairs, zero, graph_var)


def _path_pairs(quads: DataFrame, node) -> tuple[DataFrame, bool]:
    """Evaluate a compound path expression to its (src, dst) pair relation.
    Returns (pairs, includes_zero): ``pairs`` holds the ≥1-step pairs and
    ``includes_zero`` flags that the relation ALSO contains the identity
    over every graph term (the SPARQL zero-length component) — kept
    symbolic so a sequence join can apply it algebraically
    (A ∘ (C ∪ id) = A∘C ∪ A) instead of materializing a universal
    diagonal.

    Multiplicity follows the SPARQL 1.1 translation: sequences are BGPs
    with a fresh variable and alternatives are UNIONs — both BAGS (no
    dedup; `?a <p>/<q> ?b` agrees row-for-row with the hand-written
    two-pattern BGP, including per-graph duplicate quads) — while the
    ``*``/``+``/``?`` forms are ALP, i.e. SET semantics (the closure/
    zero-or-one result deduplicates)."""
    if isinstance(node, PIri):
        return (
            quads.filter(F.col("p") == node.iri)
            .select(F.col("s").alias("src"), F.col("o").alias("dst")),
            False,
        )
    if isinstance(node, PNeg):
        # §18.2.2.3 split: forward steps not in fwd ∪ REVERSED steps not in
        # inv — each branch present only when its member set is non-empty
        # (!(^p) matches only reversed edges). Branch union is a bag, like
        # the PAlt the spec's translation rewrites to.
        branches = []
        if node.fwd:
            branches.append(
                quads.filter(~F.col("p").isin(node.fwd))
                .select(F.col("s").alias("src"), F.col("o").alias("dst"))
            )
        if node.inv:
            branches.append(
                quads.filter(~F.col("p").isin(node.inv))
                .select(F.col("o").alias("src"), F.col("s").alias("dst"))
            )
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out, False
    if isinstance(node, PInv):
        pairs, zero = _path_pairs(quads, node.inner)
        return (
            pairs.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ),
            zero,
        )
    if isinstance(node, PAlt):
        out = None
        zero = False
        for child in node.options:
            p, z = _path_pairs(quads, child)
            out = p if out is None else out.unionByName(p)
            zero = zero or z
        return out, zero  # UNION = bag
    if isinstance(node, PSeq):
        acc, zacc = _path_pairs(quads, node.parts[0])
        for part in node.parts[1:]:
            nxt, znxt = _path_pairs(quads, part)
            # relational composition; zero components distribute:
            # (A ∪ id)∘(B ∪ id) = A∘B ∪ A ∪ B ∪ id
            comp = (
                acc.select("src", F.col("dst").alias("_mid"))
                .join(nxt.select(F.col("src").alias("_mid"), "dst"), "_mid")
                .select("src", "dst")
            )
            branches = [comp]
            if znxt:
                branches.append(acc)
            if zacc:
                branches.append(nxt)
            out = branches[0]
            for b in branches[1:]:
                out = out.unionByName(b)
            acc, zacc = out, (zacc and znxt)  # BGP join = bag
        return acc, zacc
    if isinstance(node, PMod):
        pairs, zero = _path_pairs(quads, node.inner)
        if node.op == "?":
            return pairs.distinct(), True  # ZeroOrOnePath is ALP: a set
        closed = _closure_pairs(fixpoint.checkpoint(pairs.distinct()))
        # (P ∪ id)* = P* ; (P ∪ id)+ = P ∪ P² ∪ ... ∪ id-from-inner
        return closed, True if node.op == "*" else zero
    raise AssertionError(node)  # pragma: no cover



def _bind_path_endpoints(
    quads: DataFrame,
    pat: Pattern,
    pairs: DataFrame,
    zero: bool,
    graph_var: str | None,
) -> DataFrame:
    """Bind a pattern's endpoints (and, under ``GRAPH ?var``, the graph
    variable) against an evaluated pair relation of :func:`_path_key`
    endpoints, applying SPARQL 1.1 zero-length semantics in every graph
    of :func:`_path_graphs`: a ground endpoint always admits (t, t) — even
    where t does not occur; two variables extend the relation with the
    identity over every term of the graph (subject or object position); a
    repeated variable keeps the diagonal. When the zero identity is folded
    in, the union deduplicates — so a zero-admitting COMPOUND path (e.g.
    ``p?/q?``) yields set-semantics solutions there; the plain (no-zero)
    sequences/alternatives keep their bag multiplicity untouched."""
    s_var = pat.s[1:] if pat.s.startswith("?") else None
    o_var = pat.o[1:] if pat.o.startswith("?") else None
    if zero:
        graphs = _path_graphs(quads, graph_var)
        if s_var is None and o_var is None:
            if pat.s == pat.o:
                if graph_var is None:
                    return graphs  # pure existence: one zero-column row
                return graphs.select(F.col("g").alias(graph_var))
        elif s_var is None or o_var is None:
            t = _path_key(
                F.col("g"), F.lit(pat.s if s_var is None else pat.o),
                graph_var,
            )
            pairs = pairs.unionByName(
                graphs.select(t.alias("src"), t.alias("dst"))
            ).distinct()
        else:
            nodes = (
                quads.select(
                    _path_key(F.col("g"), F.col("s"), graph_var).alias("src")
                )
                .unionByName(
                    quads.select(
                        _path_key(F.col("g"), F.col("o"), graph_var)
                        .alias("src")
                    )
                )
                .distinct()
            )
            pairs = pairs.unionByName(
                nodes.select("src", F.col("src").alias("dst"))
            ).distinct()

    def node(c: str) -> Column:
        return F.col(c) if graph_var is None else F.col(c).getField("n")

    positions = (
        [] if graph_var is None else [(graph_var, F.col("src").getField("g"))]
    )
    for var, col, ground in (
        (s_var, node("src"), pat.s),
        (o_var, node("dst"), pat.o),
    ):
        if var is None:
            pairs = pairs.filter(col == ground)
        else:
            positions.append((var, col))
    # a variable repeated across positions binds once, filtered to equality
    out_cols: dict[str, Column] = {}
    for var, col in positions:
        if var in out_cols:
            pairs = pairs.filter(out_cols[var] == col)
        else:
            out_cols[var] = col
    return pairs.select(*[c.alias(v) for v, c in out_cols.items()])


def _join(left: DataFrame | None, right: DataFrame, how: str = "inner") -> DataFrame:
    if left is None:
        return right
    shared = [c for c in left.columns if c in right.columns]
    if shared:
        return left.join(right, shared, how)
    if how == "left":
        # OPTIONAL must be handled BEFORE the zero-column existence branches:
        # a left_semi there would DROP every solution when a fully-ground
        # OPTIONAL pattern has no match — SPARQL keeps all rows.
        if not right.columns:
            # ground OPTIONAL: binds nothing and never eliminates — whether
            # the pattern matched or not, every left solution survives as-is
            return left
        # OPTIONAL sharing no variables: LeftJoin with disjoint domains —
        # extend every solution with the optional bindings (cross product),
        # but keep left rows (null-extended) when the optional side is empty
        return left.join(right, F.lit(True), "left")
    if not right.columns:
        # fully-ground pattern: an EXISTENCE condition, not a multiplier —
        # semi-join on TRUE keeps each left row iff the pattern matched
        # anywhere (SPARQL BGP over the set-semantics default graph), with
        # multiplicity 1 regardless of how many graphs carry the triple
        return left.join(right, F.lit(True), "left_semi")
    if not left.columns:
        # ground pattern came FIRST: same existence semantics, mirrored
        return right.join(left, F.lit(True), "left_semi")
    return left.crossJoin(right)


def _compat(
    right: DataFrame, shared: list[str], nullable: set[str]
) -> tuple[DataFrame, Column]:
    """The one SPARQL compatibility condition: ``right`` with every column
    renamed ``_r_{c}``, and the condition that a left row agrees with it on
    ``shared``. HASH-FIRST: a shared column that can never be unbound (not
    in ``nullable``) is a plain equality, which Catalyst extracts as a
    hash-join KEY; only a genuinely nullable column keeps the
    unbound-matches-anything form. With at least one always-bound shared
    column the join plans as a hash join with a residual filter instead of
    a BroadcastNestedLoopJoin of two arbitrarily large frames — the
    skew-robust equi-join of *CPU and GPU Hash Joins on Skewed Data*
    (ICDE 2024). An all-nullable shared domain keeps the theta fallback:
    there is no key to hash on."""
    rr = right.select(*[F.col(c).alias(f"_r_{c}") for c in right.columns])
    cond = F.lit(True)
    for c in shared:
        lc, rc = F.col(c), F.col(f"_r_{c}")
        eq = lc == rc
        if c in nullable:
            eq = lc.isNull() | rc.isNull() | eq
        cond = cond & eq
    return rr, cond


def _minus(
    left: DataFrame, right: DataFrame, slow_cols: set[str]
) -> DataFrame:
    """SPARQL MINUS (§18.5 minus-compatibility): drop a left solution iff
    the right side has a solution that is COMPATIBLE with it (agrees on
    every shared variable bound in both) AND whose domain OVERLAPS it (at
    least one shared variable bound in both). No shared variables — or
    shared variables never co-bound — removes NOTHING: the canonical
    divergence from NOT EXISTS. ``slow_cols`` lists shared columns that can
    be null (unbound); when none can, this is one hash left-anti join on
    the shared keys."""
    shared = [c for c in left.columns if c in right.columns]
    if not shared:
        return left
    r = right.select(*shared).dropDuplicates()
    if not (slow_cols & set(shared)):
        return left.join(r, shared, "left_anti")
    rr, compat = _compat(r, shared, slow_cols)
    # a matched pair co-binds any always-bound shared column, so the
    # overlap disjunct is implied unless every shared column is nullable
    overlap = F.lit(True)
    if set(shared) <= slow_cols:
        overlap = F.lit(False)
        for c in shared:
            overlap = overlap | (
                F.col(c).isNotNull() & F.col(f"_r_{c}").isNotNull()
            )
    return left.join(rr, compat & overlap, "left_anti")


def _exists_join(
    left: DataFrame, right: DataFrame, positive: bool, slow_cols: set[str]
) -> DataFrame:
    """FILTER [NOT] EXISTS: correlated existence over the shared-variable
    domain — a left-semi (positive) / left-anti join. Substitution
    semantics for unbound values: a variable the outer solution does NOT
    bind (null) stays FREE in the inner pattern, so it matches any inner
    binding (and an inner solution leaving it unbound matches any outer
    value). With no shared variables the test degenerates to "does the
    inner pattern match at all" — semi/anti against its first row. When no
    shared column can be null, this is one hash semi/anti join."""
    shared = [c for c in left.columns if c in right.columns]
    how = "left_semi" if positive else "left_anti"
    if not shared:
        return left.join(right.limit(1), F.lit(True), how)
    r = right.select(*shared).dropDuplicates()
    if not (slow_cols & set(shared)):
        return left.join(r, shared, how)
    rr, cond = _compat(r, shared, slow_cols)
    return left.join(rr, cond, how)


def _join_compat(
    frame: DataFrame | None, sub: DataFrame, nullable_cols: set[str]
) -> DataFrame:
    """Join a compiled sub-frame (group / union / subselect / VALUES
    block) into the accumulating group frame: the plain `_join` unless a
    SHARED variable can be unbound on either side, where SPARQL join
    compatibility requires the :func:`_compat` condition and a coalesce
    merge (the merged binding keeps whichever side was bound)."""
    if frame is None:
        return sub
    shared = [c for c in frame.columns if c in sub.columns]
    if not (set(shared) & nullable_cols):
        return _join(frame, sub)
    rr, cond = _compat(sub, shared, nullable_cols)
    return frame.join(rr, cond, "inner").select(
        *[
            F.coalesce(F.col(c), F.col(f"_r_{c}")).alias(c)
            if c in shared
            else F.col(c)
            for c in frame.columns
        ],
        *[F.col(f"_r_{c}").alias(c) for c in sub.columns if c not in shared],
    )


def _compile_group_mn(
    quads: DataFrame, spark, group: Group, graph_var: str | None = None
) -> tuple[DataFrame | None, set[str]]:
    """Compile a group to (bindings frame, maybe-null columns). The second
    element tracks which variables can be UNBOUND (null) in some solution —
    introduced by OPTIONAL right sides, UNION branches that lack a
    variable, or BIND expressions that can evaluate to error (null). MINUS
    and EXISTS joins use it to keep the fast hash-join path whenever the
    shared domain is provably always-bound."""
    frame: DataFrame | None = None
    maybe_null: set[str] = set()
    deferred: list = []  # Filter | ExistsFilter — whole-group scope
    for item in group.items:
        if isinstance(item, Pattern):
            frame = _join(
                frame,
                _scan(quads, item, graph_var)
                if item.pexpr is None
                else _scan_path(quads, item, graph_var),
            )
        elif isinstance(item, GraphScope):
            if item.term.startswith("?"):
                # named graphs only: the engine's null-graph sentinel (and
                # actual nulls) never bind a graph VARIABLE
                scoped = quads.filter(
                    F.col("g").isNotNull() & (F.col("g") != _HK_NULL_URI)
                )
                sub, sub_mn = _compile_group_mn(
                    scoped, spark, item.group, graph_var=item.term[1:]
                )
            else:
                sub, sub_mn = _compile_group_mn(
                    quads.filter(F.col("g") == item.term), spark, item.group
                )
            if sub is not None:
                frame = _join_compat(frame, sub, maybe_null | sub_mn)
                maybe_null |= sub_mn
        elif isinstance(item, SubSelect):
            # under GRAPH ?var the subquery evaluates PER NAMED GRAPH in
            # one pass: pattern scans bind the graph column, aggregation /
            # DISTINCT implicitly key on it, and it survives projection so
            # the join below correlates per graph (_compile_select_mn)
            sub, sub_mn = _compile_select_mn(
                quads, spark, item.query, graph_var
            )
            # SPARQL join compatibility when a shared variable can be
            # unbound on either side — same machinery as the VALUES UNDEF
            # join (null matches anything, merged row keeps the bound value)
            frame = _join_compat(frame, sub, maybe_null | sub_mn)
            maybe_null |= sub_mn
        elif isinstance(item, Group):
            sub, sub_mn = _compile_group_mn(quads, spark, item, graph_var)
            if sub is not None:
                frame = _join_compat(frame, sub, maybe_null | sub_mn)
                maybe_null |= sub_mn
        elif isinstance(item, Union):
            l, l_mn = _compile_group_mn(quads, spark, item.left, graph_var)
            r, r_mn = _compile_group_mn(quads, spark, item.right, graph_var)
            if l is None or r is None:
                raise SparqlSyntaxError("empty UNION branch")
            u = l.unionByName(r, allowMissingColumns=True)
            # a var missing from either branch is unbound in the other's rows
            u_mn = l_mn | r_mn | (set(l.columns) ^ set(r.columns))
            frame = _join_compat(frame, u, maybe_null | u_mn)
            maybe_null |= u_mn
        elif isinstance(item, Optional_):
            sub, sub_mn = _compile_group_mn(quads, spark, item.group, graph_var)
            if sub is not None:
                new_cols = set(sub.columns) - set(
                    frame.columns if frame is not None else []
                )
                frame = _join(frame, sub, how="left")
                maybe_null |= sub_mn | new_cols
        elif isinstance(item, Minus):
            sub, _sub_mn = _compile_group_mn(quads, spark, item.group, graph_var)
            if sub is None:
                raise SparqlSyntaxError("empty MINUS group")
            if frame is None:
                raise SparqlSyntaxError("MINUS without a preceding pattern")
            frame = _minus(frame, sub, maybe_null | _sub_mn)
        elif isinstance(item, Bind):
            if frame is not None and item.var in frame.columns:
                raise SparqlSyntaxError(
                    f"BIND would rebind ?{item.var} already in scope"
                )
            if frame is None:
                # BIND over the empty group: ONE empty solution, extended
                frame = spark.range(1).select()
            keep = list(frame.columns)
            frame, bind_expr = _hoist_exists(
                frame, item.expr, quads, spark, graph_var, maybe_null
            )
            col, _ = _value_as_term_or_num(
                bind_expr, set(frame.columns), _numeric_dtype_cols(frame)
            )
            frame = frame.select(*keep, col.alias(item.var))
            # expression errors surface as null ⇒ the var may be unbound
            maybe_null.add(item.var)
        elif isinstance(item, MultiValues):
            schema = ", ".join(f"{v} string" for v in item.vars)
            vf = spark.createDataFrame(
                [tuple(r) for r in item.rows], schema
            )
            undef_cols = {
                item.vars[i]
                for r in item.rows
                for i in range(len(item.vars))
                if r[i] is None
            }
            # UNDEF (or an OPTIONAL-null binding) on a shared variable:
            # SPARQL join compatibility — unbound on either side matches
            # anything; the merged binding keeps the bound one
            frame = _join_compat(frame, vf, maybe_null | undef_cols)
            maybe_null |= undef_cols
        elif isinstance(item, (Filter, ExistsFilter)):
            deferred.append(item)
        else:  # pragma: no cover
            raise AssertionError(item)
    # SPARQL FILTER scope is the whole group — apply after all patterns bind
    for flt in deferred:
        if frame is None:
            raise SparqlSyntaxError("FILTER in an empty group")
        if isinstance(flt, ExistsFilter):
            sub, sub_mn = _compile_group_mn(quads, spark, flt.group, graph_var)
            if sub is None:
                raise SparqlSyntaxError("empty EXISTS group")
            frame = _exists_join(frame, sub, flt.positive, maybe_null | sub_mn)
        else:
            frame = _apply_filter(
                quads, spark, frame, flt.expr, maybe_null, graph_var
            )
    return frame, maybe_null


def _extract_exists(e: Expr, found: list, taken: set[str]) -> Expr:
    """Rebuild a FILTER expression tree, replacing every ``exists`` node
    with a reference to a precomputed boolean marker column (appended to
    ``found`` as (name, group)), named by the first ``_ex_{i}`` not in
    ``taken`` (which then records it). A NEGATIVE exists becomes NOT over
    the positive marker."""
    if e.op == "exists":
        i = 0
        while f"_ex_{i}" in taken:
            i += 1
        name = f"_ex_{i}"
        taken.add(name)
        found.append((name, e.args[0]))
        marker = Expr("marker", [name])
        return marker if e.args[1] else Expr("not", [marker])
    if not any(isinstance(a, Expr) for a in e.args):
        return e
    return Expr(
        e.op,
        [_extract_exists(a, found, taken) if isinstance(a, Expr) else a
         for a in e.args],
    )


def _hoist_exists(
    frame: DataFrame,
    expr: Expr,
    quads: DataFrame,
    spark,
    graph_var: str | None,
    slow_cols: set[str],
) -> tuple[DataFrame, Expr]:
    """Hoist every [NOT] EXISTS embedded in ``expr`` (FILTER, BIND, HAVING
    or a SELECT expression) to a boolean marker column on ``frame``: each
    inner group compiles in the caller's scope — the active graph
    included — and attaches via :func:`_exists_marker`, null-aware on
    ``slow_cols``. Returns the frame and ``expr`` rewritten to read the
    markers, so EXISTS composes with &&/||/!/IF like any other boolean;
    the caller's final projection drops the markers. Marker names are
    fresh per frame, so several expressions can hoist onto one frame.
    Without EXISTS both come back unchanged."""
    found: list = []
    expr = _extract_exists(expr, found, set(frame.columns))
    for name, grp in found:
        inner, inner_mn = _compile_group_mn(quads, spark, grp, graph_var)
        if inner is None:
            raise SparqlSyntaxError("empty EXISTS group")
        frame = _exists_marker(frame, inner, name, slow_cols | inner_mn)
    return frame, expr


def _exists_marker(
    frame: DataFrame, inner: DataFrame, name: str, slow_cols: set[str]
) -> DataFrame:
    """Attach a boolean column ``name`` to ``frame``: true iff the inner
    pattern has a solution COMPATIBLE with the row (the EXISTS test as
    data instead of a semi-join — needed when the result feeds a larger
    boolean expression). One row in, one row out:

    - no shared variables → a 1-row limit(1) probe broadcast-left-joined
      on TRUE (matches-anywhere semantics);
    - always-bound shared domain → deduplicated inner keys left-joined on
      the shared columns (one hash join, no fan-out because the probe side
      is distinct);
    - nullable shared domain → per-row id + :func:`_compat` join,
      distinct matched ids re-joined (the id pinned by localCheckpoint so
      both references see the same values)."""
    shared = [
        c for c in frame.columns
        if c in inner.columns and not c.startswith("_ex_")
    ]
    if not shared:
        probe = inner.limit(1).select(F.lit(True).alias(name))
        return frame.join(probe, F.lit(True), "left")
    r = inner.select(*shared).dropDuplicates()
    if not (slow_cols & set(shared)):
        return frame.join(r.withColumn(name, F.lit(True)), shared, "left")
    rid = f"_ex_rid{name}"
    tagged = frame.withColumn(
        rid, F.monotonically_increasing_id()
    ).localCheckpoint()
    rr, cond = _compat(r, shared, slow_cols)
    matched = (
        tagged.join(rr, cond, "inner")
        .select(F.col(rid).alias(rid))  # fresh attribute id (self-join)
        .distinct()
        .withColumn(name, F.lit(True))
    )
    return tagged.join(matched, rid, "left").drop(rid)


def _apply_filter(
    quads: DataFrame,
    spark,
    frame: DataFrame,
    expr: Expr,
    maybe_null: set[str],
    graph_var: str | None,
) -> DataFrame:
    """Apply one FILTER expression; embedded [NOT] EXISTS operands filter
    over hoisted marker columns (:func:`_hoist_exists`), which the final
    projection drops."""
    keep = list(frame.columns)
    frame, expr = _hoist_exists(
        frame, expr, quads, spark, graph_var, maybe_null
    )
    cond = _compile_expr(
        expr, set(frame.columns), numeric_cols=_numeric_dtype_cols(frame)
    )
    return frame.filter(cond).select(*keep)


def _agg_col(a: Aggregate, frame_cols: set[str]) -> Column:
    if a.arg is None:  # COUNT(*)
        return F.count(F.lit(1)).alias(a.alias)
    if a.arg not in frame_cols:
        raise SparqlSyntaxError(f"aggregate over unbound variable ?{a.arg}")
    col = F.col(a.arg)
    if a.func == "COUNT":
        agg = F.count_distinct(col) if a.distinct else F.count(col)
    elif a.func == "SUM":
        num = _numeric(col)  # decode typed-literal numeric values
        agg = F.sum_distinct(num) if a.distinct else F.sum(num)
    elif a.func == "AVG":
        if a.distinct:
            raise SparqlSyntaxError("AVG(DISTINCT) is not supported")
        agg = F.avg(_numeric(col))
    elif a.func in ("MIN", "MAX"):
        # term-string ordering — consistent with ORDER BY's ordering
        agg = F.min(col) if a.func == "MIN" else F.max(col)
    elif a.func == "GROUP_CONCAT":
        # the spec leaves concatenation order implementation-defined; this
        # engine DEFINES it as ascending term-string order (sort_array over
        # the collected values) so results are deterministic across
        # partitionings and oracle-matchable (string_agg ... ORDER BY)
        coll = F.collect_set(col) if a.distinct else F.collect_list(col)
        agg = F.array_join(F.sort_array(coll), a.separator)
    elif a.func == "SAMPLE":
        # the spec allows ANY value from the group; picking MIN makes the
        # choice deterministic and partitioning-invariant
        agg = F.min(col)
    else:  # pragma: no cover — parser admits only the funcs above
        raise SparqlSyntaxError(f"unknown aggregate {a.func}")
    return agg.alias(a.alias)


def _expr_vars(e: Expr) -> set[str]:
    """Variables referenced by a value expression (for scope validation)."""
    out: set[str] = set()
    if e.op == "val":
        kind, v = e.args[0]
        if kind == "var":
            out.add(v)
        return out
    for a in e.args:
        if isinstance(a, Expr):
            out |= _expr_vars(a)
    return out


def _compile_aggregate(
    frame: DataFrame,
    q: Query,
    quads: DataFrame,
    spark,
    maybe_null: set[str],
    graph_var: str | None,
) -> DataFrame:
    """GROUP BY / aggregate projection: one groupBy().agg() — Spark's
    partial (map-side) aggregation applies automatically, so a COUNT over
    10^12 rows shuffles one partial row per (partition, group).

    ``quads``/``spark`` carry the dataset context so HAVING and SELECT
    expressions may embed ``[NOT] EXISTS { ... }``: each existence test
    becomes a boolean marker column over the GROUPED frame
    (:func:`_hoist_exists` — the inner pattern correlates on shared column
    names, i.e. group keys and, if the inner pattern happens to use them,
    aggregate aliases), and the markers drop out with the projection.

    ``graph_var`` set (a subquery under ``GRAPH ?var``) makes the bound
    graph column an IMPLICIT group key — the aggregation evaluates
    per named graph in one groupBy, and the graph column survives the
    projection so the enclosing GraphScope join can bind ?var."""
    cols = set(frame.columns)
    gkey = graph_var if graph_var is not None and graph_var in cols else None
    gb = list(q.group_by) + (
        [gkey] if gkey is not None and gkey not in q.group_by else []
    )
    plain = [name for kind, name in q.select_items if kind == "var"]
    aggs = [item for kind, item in q.select_items if kind == "agg"]
    exprs = [item for kind, item in q.select_items if kind == "expr"]
    if not q.select_items:  # SELECT * GROUP BY ... projects the group keys
        plain = list(q.group_by)
    for v in q.group_by:
        if v not in cols:
            raise SparqlSyntaxError(f"GROUP BY variable ?{v} not bound")
    stray = [v for v in plain if v not in q.group_by]
    if stray:
        raise SparqlSyntaxError(
            f"non-aggregate SELECT variables must appear in GROUP BY: {stray}"
        )
    seen_aliases: set[str] = set()
    for a in aggs:
        if a.alias in cols:
            raise SparqlSyntaxError(
                f"aggregate alias ?{a.alias} is already a bound variable"
            )
        if a.alias in seen_aliases:  # would escape as AMBIGUOUS_REFERENCE
            raise SparqlSyntaxError(f"duplicate aggregate alias ?{a.alias}")
        seen_aliases.add(a.alias)
    agg_aliases = set(seen_aliases)
    for e, alias in exprs:
        if alias in cols or alias in seen_aliases:
            raise SparqlSyntaxError(
                f"expression alias ?{alias} is already bound"
            )
        seen_aliases.add(alias)
        # grouped scope: an expression may reference group keys and
        # (already-computed) aggregate aliases, nothing else
        bad = _expr_vars(e) - set(q.group_by) - agg_aliases
        if bad:
            raise SparqlSyntaxError(
                "SELECT expression over non-group-key variables "
                f"{sorted(bad)} — wrap in an aggregate or GROUP BY them"
            )
    if not aggs:  # bare GROUP BY: the distinct group keys
        grouped = frame.select(*gb).distinct()
    else:
        grouped = frame.groupBy(*gb).agg(
            *[_agg_col(a, cols) for a in aggs]
        )
    # nullability over the grouped frame: OPTIONAL-born group keys plus
    # non-COUNT aggregate aliases (null on all-null groups)
    grouped_mn = (maybe_null & set(q.group_by)) | {
        a.alias for a in aggs if a.func != "COUNT"
    }
    if q.having is not None:
        # HAVING scope: group keys + aggregate aliases, BEFORE projection;
        # alias columns are already numeric — no term-string decode
        keep = list(grouped.columns)
        grouped, having = _hoist_exists(
            grouped, q.having, quads, spark, graph_var, grouped_mn
        )
        grouped = grouped.filter(
            _compile_expr(
                having,
                set(grouped.columns),
                numeric_cols=_numeric_dtype_cols(grouped),
            )
        ).select(*keep)
    sel_items = []
    for kind, item in q.select_items:
        if kind == "expr":
            grouped, e = _hoist_exists(
                grouped, item[0], quads, spark, graph_var, grouped_mn
            )
            item = (e, item[1])
        sel_items.append((kind, item))
    gcols = set(grouped.columns)
    gnum = _numeric_dtype_cols(grouped)
    projection = []
    for kind, item in sel_items:
        if kind == "var":
            projection.append(F.col(item))
        elif kind == "agg":
            projection.append(F.col(item.alias))
        else:
            e, alias = item
            c, _ = _value_as_term_or_num(e, gcols, gnum)
            projection.append(c.alias(alias))
    if not projection:  # SELECT * GROUP BY ...
        projection = [F.col(v) for v in plain]
    if gkey is not None:
        projected_names = {
            item if kind == "var" else
            item.alias if kind == "agg" else item[1]
            for kind, item in sel_items
        } | set(plain)
        if gkey not in projected_names:
            projection.append(F.col(gkey))
    return grouped.select(*projection)


def set_filter_from(text: str, named_graph: str) -> str:
    """sparqlhelper.js:296-327 ``setFilterFrom``: append a ``FROM <g>``
    dataset clause to a user SELECT query, returning the rewritten string
    (the reference parses with sparqljs and re-stringifies; here the query
    is parse-validated with this module's grammar, then the clause is
    inserted before the WHERE keyword found via the TOKEN stream — a plain
    regex could match 'WHERE' inside an IRI or literal)."""
    q = parse_sparql(text)  # validate first — raises on unsupported syntax
    iri = named_graph if named_graph.startswith("<") else f"<{named_graph}>"
    # the '{' fallback serves WHERE-less ASK; in CONSTRUCT the first brace
    # is the TEMPLATE, so only the WHERE keyword is a valid anchor there
    allow_brace = q.form == "ask"
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None or m.end() == pos:
            break
        if (m.lastgroup == "word" and m.group("word").upper() == "WHERE") or (
            allow_brace
            and m.lastgroup == "punct"
            and m.group("punct") == "{"
        ):
            at = m.start(m.lastgroup)
            return text[:at] + f"FROM {iri} " + text[at:]
        pos = m.end()
    if q.form == "describe" and q.where is None:
        # DESCRIBE <iri> — the dataset clause legally trails the terms
        return f"{text.rstrip()} FROM {iri}"
    raise SparqlSyntaxError("no WHERE clause or group to scope")


def run_sparql(quads: DataFrame, text: str, hide_hk: bool = False) -> DataFrame:
    """Parse and execute a SPARQL query over the quads frame.

    - SELECT → one column per projected variable (term-string encoding);
    - ASK → a single-row frame with one boolean column ``ask`` (lazy — the
      existence aggregate runs when the frame is consumed);
    - DESCRIBE → (s, p, o, g) quads whose SUBJECT is a described node
      (outgoing / CBD-style description, the shape the reference's endpoint
      returns for the fromUris DESCRIBE, sparqlfactory.js:342-410);
    - CONSTRUCT → (s, p, o) triples instantiated from the template per
      binding, set-deduplicated.

    ``hide_hk`` = the reference's ``setHKFiltered`` (Q12): every pattern
    scan excludes HK-vocabulary statements (P14)."""
    q = parse_sparql(text)
    spark = quads.sparkSession
    base = quads
    if q.from_graphs:
        base = base.filter(F.col("g").isin(q.from_graphs))
        if "gpart" in base.columns:
            # graph-partitioned store (read_quad_store with_partition_key):
            # add the literal partition-key predicate so the FROM clause
            # prunes whole partition DIRECTORIES at planning time (Q11) —
            # the g-filter alone is a row filter over every file
            from rdf2hk_spark.operators.update_diff import gpart_key

            base = base.filter(
                F.col("gpart").isin([gpart_key(g) for g in q.from_graphs])
            )
    if hide_hk:
        base = filter_hk(base)

    if q.form == "ask":
        frame = _compile_group_mn(base, spark, q.where)[0]
        if frame is None:
            raise SparqlSyntaxError("empty ASK group")
        return frame.agg(F.count(F.lit(1)).alias("_n")).select(
            (F.col("_n") > 0).alias("ask")
        )

    if q.form == "describe":
        var_terms = [t[1:] for t in q.describe_terms if t.startswith("?")]
        iri_terms = [t for t in q.describe_terms if not t.startswith("?")]
        id_frames = []
        if var_terms:
            if q.where is None:
                raise SparqlSyntaxError("DESCRIBE ?var requires a WHERE group")
            frame = _compile_group_mn(base, spark, q.where)[0]
            if frame is None:
                raise SparqlSyntaxError("empty WHERE group")
            for v in var_terms:
                if v not in frame.columns:
                    raise SparqlSyntaxError(f"DESCRIBE variable ?{v} not bound")
                id_frames.append(frame.select(F.col(v).alias("_did")))
        if iri_terms:
            id_frames.append(
                spark.createDataFrame([(t,) for t in iri_terms], "_did string")
            )
        ids = id_frames[0]
        for f in id_frames[1:]:
            ids = ids.unionByName(f)
        return base.join(
            ids.distinct().withColumnRenamed("_did", "s"), "s", "left_semi"
        ).select("s", "p", "o", "g")

    if q.form == "construct":
        frame = _compile_group_mn(base, spark, q.where)[0]
        if frame is None:
            raise SparqlSyntaxError("empty WHERE group")
        cols = set(frame.columns)
        # fresh blank node per SOLUTION per template label (SPARQL CONSTRUCT
        # semantics): _:x in the template becomes _:md5(label + the whole
        # binding row) — same label in one solution shares, distinct
        # solutions get distinct nodes, deterministic across engines
        binding_sig = F.concat_ws(
            "\x00", *[F.coalesce(F.col(c), F.lit("\x01")) for c in sorted(cols)]
        )
        out = None
        for pat in q.template:
            exprs = []
            for pos, term in (("s", pat.s), ("p", pat.p), ("o", pat.o)):
                if term.startswith("?"):
                    var = term[1:]
                    if var not in cols:
                        raise SparqlSyntaxError(
                            f"CONSTRUCT template variable ?{var} not bound"
                        )
                    exprs.append(F.col(var).alias(pos))
                elif term.startswith("_:"):
                    exprs.append(
                        F.concat(
                            F.lit("_:"),
                            F.md5(
                                F.encode(
                                    F.concat(F.lit(term + "|"), binding_sig),
                                    "UTF-8",
                                )
                            ),
                        ).alias(pos)
                    )
                else:
                    exprs.append(F.lit(term).alias(pos))
            branch = frame.select(*exprs)
            out = branch if out is None else out.unionByName(branch)
        if out is None:
            raise SparqlSyntaxError("empty CONSTRUCT template")
        return out.dropDuplicates(["s", "p", "o"])

    out, _mn = _compile_select_mn(base, spark, q)
    return out


def _compile_select_mn(
    base: DataFrame, spark, q: Query, graph_var: str | None = None
) -> tuple[DataFrame, set[str]]:
    """The SELECT evaluation pipeline — group compile, aggregate/expression
    projection, DISTINCT / ORDER BY / OFFSET / LIMIT — shared by the
    top-level SELECT form and nested SubSelects (§18.2.4 ToMultiSet, where
    the solution modifiers all apply BEFORE the outer join). Returns the
    result frame plus its maybe-unbound column set: projected variables
    keep their group-level nullability; expression aliases can error to
    null; aggregate aliases other than COUNT can be null (SUM/AVG over
    non-numeric terms, MIN over all-null groups).

    ``graph_var`` set = a SubSelect under ``GRAPH ?var``: every pattern
    scan binds the graph column, aggregation/DISTINCT implicitly key on it
    (per-graph evaluation in ONE pass — no per-graph loop), and it rides
    along the projection so the enclosing scope can bind ?var. LIMIT /
    OFFSET slice PER GRAPH via a row_number window partitioned on the
    graph key (ordered by the subquery's ORDER BY, or by all projected
    columns for a deterministic implementation-defined choice)."""
    frame, mn = _compile_group_mn(base, spark, q.where, graph_var)
    if frame is None:
        raise SparqlSyntaxError("empty WHERE group")
    if not frame.columns:
        raise SparqlSyntaxError("WHERE binds no variables")
    gv_bound = graph_var is not None and graph_var in frame.columns
    if q.group_by or any(kind == "agg" for kind, _ in q.select_items):
        out = _compile_aggregate(frame, q, base, spark, mn, graph_var)
        out_mn = set()
        for kind, item in q.select_items:
            if kind == "var" and item in mn:
                out_mn.add(item)
            elif kind == "agg" and item.func != "COUNT":
                out_mn.add(item.alias)
            elif kind == "expr":
                out_mn.add(item[1])
        if not q.select_items:  # SELECT * GROUP BY ...
            out_mn = mn & set(q.group_by)
    else:
        if q.having is not None:
            raise SparqlSyntaxError("HAVING requires GROUP BY or aggregates")
        if any(kind == "expr" for kind, _ in q.select_items):
            # the final select projects only the aliases, dropping any
            # hoisted EXISTS markers
            sel_items = []
            for kind, item in q.select_items:
                if kind == "expr":
                    frame, e = _hoist_exists(
                        frame, item[0], base, spark, graph_var, mn
                    )
                    item = (e, item[1])
                sel_items.append((kind, item))
            cols = set(frame.columns)
            numeric = _numeric_dtype_cols(frame)
            projection, seen = [], set()
            for kind, item in sel_items:
                if kind == "var":
                    if item not in cols:
                        raise SparqlSyntaxError(
                            f"projected variable ?{item} not bound"
                        )
                    projection.append(F.col(item))
                else:
                    e, alias = item
                    if alias in cols or alias in seen:
                        raise SparqlSyntaxError(
                            f"expression alias ?{alias} is already bound"
                        )
                    seen.add(alias)
                    c, _ = _value_as_term_or_num(e, cols, numeric)
                    projection.append(c.alias(alias))
            if gv_bound and graph_var not in (
                {i for k, i in q.select_items if k == "var"} | seen
            ):
                projection.append(F.col(graph_var))
            out = frame.select(*projection)
            out_mn = {
                item if kind == "var" else item[1]
                for kind, item in q.select_items
                if (kind == "var" and item in mn) or kind == "expr"
            }
        else:
            variables = q.variables or sorted(frame.columns)
            missing = [v for v in variables if v not in frame.columns]
            if missing:
                raise SparqlSyntaxError(
                    f"projected variables not bound: {missing}"
                )
            if gv_bound and graph_var not in variables:
                variables = list(variables) + [graph_var]
            out = frame.select(*variables)
            out_mn = mn & set(variables)
    if q.distinct:
        out = out.distinct()
    if gv_bound and (q.limit is not None or q.offset):
        # subquery under GRAPH ?var: the slice applies PER GRAPH — a
        # row_number window partitioned by the graph key, ordered by the
        # subquery's ORDER BY (or by every projected column ascending when
        # none is given, making the implementation-defined choice
        # deterministic and partitioning-invariant)
        from pyspark.sql.window import Window

        order_cols = (
            [
                F.col(v).asc() if asc else F.col(v).desc()
                for v, asc in q.order_by
            ]
            if q.order_by
            else [
                F.col(c).asc() for c in out.columns if c != graph_var
            ]
        )
        w = Window.partitionBy(graph_var).orderBy(*order_cols)
        lo = q.offset or 0
        cond = F.col("_rn") > lo
        if q.limit is not None:
            cond = cond & (F.col("_rn") <= lo + q.limit)
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(cond)
            .drop("_rn")
        )
        return out, out_mn
    if q.order_by:
        out = out.orderBy(
            *[F.col(v).asc() if asc else F.col(v).desc() for v, asc in q.order_by]
        )
    if q.offset:
        # OFFSET without ORDER BY is legal but row-order-dependent, exactly
        # as in SPARQL; Spark's offset composes with limit below
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out, out_mn
