"""SPARQL-text surface (plans/sparql.py): parse + compile onto the quads
frame; the setHKFiltered (Q12) hiding semantic; P12 literal unescape."""

import re

import pytest
from pyspark.sql import functions as F

from rdf2hk_spark import constants as C
from rdf2hk_spark.plans.sparql import (
    SparqlSyntaxError, parse_sparql, run_sparql,
)

QUAD_SCHEMA = "stmt_idx long, s string, p string, o string, g string"

G1, G2 = "<http://g/1>", "<http://g/2>"
ROWS = [
    (0, "<http://e/a>", "<http://p/knows>", "<http://e/b>", G1),
    (1, "<http://e/b>", "<http://p/knows>", "<http://e/c>", G1),
    (2, "<http://e/a>", "<http://p/name>", '"Alice"@en', G1),
    (3, "<http://e/b>", "<http://p/name>", '"Bob"@en', G1),
    (4, "<http://e/a>", "<http://p/age>",
     '"42"^^<http://www.w3.org/2001/XMLSchema#integer>', G1),
    (5, "<http://e/b>", "<http://p/age>",
     '"17"^^<http://www.w3.org/2001/XMLSchema#integer>', G1),
    (6, "<http://e/x>", "<http://p/knows>", "<http://e/y>", G2),
    # HK-internal statement that hide_hk must exclude
    (7, "<http://e/a>", C.ISA_URI, "<http://e/Type>", G1),
]


@pytest.fixture(scope="module")
def quads(spark):
    return spark.createDataFrame(ROWS, QUAD_SCHEMA).cache()


def rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestBgp:
    def test_single_pattern(self, quads):
        out = run_sparql(
            quads, "SELECT ?x ?y WHERE { ?x <http://p/knows> ?y }"
        )
        assert rows(out) == [
            ("<http://e/a>", "<http://e/b>"),
            ("<http://e/b>", "<http://e/c>"),
            ("<http://e/x>", "<http://e/y>"),
        ]

    def test_join_on_shared_var(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?z WHERE { ?x <http://p/knows> ?y ."
            " ?y <http://p/knows> ?z }",
        )
        assert rows(out) == [("<http://e/a>", "<http://e/c>")]

    def test_literal_constant_and_select_star(self, quads):
        out = run_sparql(
            quads, 'SELECT * WHERE { ?x <http://p/name> "Alice"@en }'
        )
        assert out.columns == ["x"]
        assert rows(out) == [("<http://e/a>",)]

    def test_from_graph_scoping(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x FROM <http://g/2> WHERE { ?x <http://p/knows> ?y }",
        )
        assert rows(out) == [("<http://e/x>",)]


class TestFilters:
    def test_numeric_comparison(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/age> ?a . FILTER(?a >= 18) }",
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_regex_and_boolean_ops(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            ' FILTER(REGEX(?n, "^A") || REGEX(?n, "ob$")) }',
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_in_and_not(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/knows> ?y ."
            " FILTER(!(?y IN (<http://e/c>, <http://e/y>))) }",
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_term_inequality(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?y WHERE { ?x <http://p/knows> ?y ."
            " FILTER(?x != <http://e/a>) }",
        )
        assert rows(out) == [
            ("<http://e/b>", "<http://e/c>"),
            ("<http://e/x>", "<http://e/y>"),
        ]


class TestForms:
    def test_values(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?y WHERE { VALUES ?x { <http://e/a> <http://e/x> }"
            " . ?x <http://p/knows> ?y }",
        )
        assert rows(out) == [
            ("<http://e/a>", "<http://e/b>"),
            ("<http://e/x>", "<http://e/y>"),
        ]

    def test_optional_left_join(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?n WHERE { ?x <http://p/knows> ?y ."
            " OPTIONAL { ?x <http://p/name> ?n } }",
        )
        assert rows(out) == [
            ("<http://e/a>", '"Alice"@en'),
            ("<http://e/b>", '"Bob"@en'),
            ("<http://e/x>", None),
        ]

    def test_union(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?v WHERE { { <http://e/a> <http://p/name> ?v } UNION"
            " { <http://e/b> <http://p/name> ?v } }",
        )
        assert rows(out) == [('"Alice"@en',), ('"Bob"@en',)]

    def test_distinct_order_limit(self, quads):
        out = run_sparql(
            quads,
            "SELECT DISTINCT ?x WHERE { ?x ?p ?o } ORDER BY DESC(?x) LIMIT 2",
        )
        assert [r["x"] for r in out.collect()] == [
            "<http://e/x>", "<http://e/b>"
        ]

    def test_a_shorthand(self, quads, spark):
        q2 = spark.createDataFrame(
            [(0, "<http://e/a>",
              "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
              "<http://T>", G1)], QUAD_SCHEMA,
        )
        out = run_sparql(q2, "SELECT ?x WHERE { ?x a <http://T> }")
        assert rows(out) == [("<http://e/a>",)]


class TestHkHiding:
    def test_hide_hk_is_set_hk_filtered(self, quads):
        """Q12 setHKFiltered (sparqlhelper.js:43-293): with hide_hk the isa
        statement is invisible to user SPARQL."""
        visible = run_sparql(quads, "SELECT ?p WHERE { <http://e/a> ?p ?o }")
        hidden = run_sparql(
            quads, "SELECT ?p WHERE { <http://e/a> ?p ?o }", hide_hk=True
        )
        assert (C.ISA_URI,) in set(map(tuple, visible.collect()))
        got = {r["p"] for r in hidden.collect()}
        assert C.ISA_URI not in got
        assert "<http://p/knows>" in got


class TestSyntax:
    def test_literal_unescape_p12(self, quads, spark):
        q2 = spark.createDataFrame(
            [(0, "<http://e/a>", "<http://p/name>", '"say "hi"\nok"', G1)],
            QUAD_SCHEMA,
        )
        out = run_sparql(
            q2,
            'SELECT ?x WHERE { ?x <http://p/name> "say \\"hi\\"\\nok" }',
        )
        assert rows(out) == [("<http://e/a>",)]

    @pytest.mark.parametrize(
        "bad",
        [
            "DELETE WHERE { ?s ?p ?o }",
            "SELECT ?x WHERE { ?x <http://p> ?y } GARBAGE",
            "SELECT ?x WHERE { ?x <http://p> }",
            "SELECT ?z WHERE { ?x <http://p> ?y }",
        ],
    )
    def test_unsupported_raises(self, quads, bad):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(quads, bad).collect()

    def test_repeated_var_in_pattern(self, quads, spark):
        q2 = spark.createDataFrame(
            [(0, "<http://e/a>", "<http://p/self>", "<http://e/a>", G1),
             (1, "<http://e/a>", "<http://p/self>", "<http://e/b>", G1)],
            QUAD_SCHEMA,
        )
        out = run_sparql(q2, "SELECT ?x WHERE { ?x <http://p/self> ?x }")
        assert rows(out) == [("<http://e/a>",)]


class TestReviewRegressions:
    """Fixes from the round-3 self-review: IN operand semantics, OPTIONAL
    with disjoint domains, ground-pattern existence, UCHAR escapes, LIMIT."""

    def test_in_with_numeric_operands(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/age> ?a . FILTER(?a IN (42, 99)) }",
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_in_with_variable_operand(self, quads, spark):
        q2 = spark.createDataFrame(
            [(0, "<http://e/a>", "<http://p/x>", "<http://v/1>", G1),
             (1, "<http://e/a>", "<http://p/y>", "<http://v/1>", G1),
             (2, "<http://e/b>", "<http://p/x>", "<http://v/1>", G1),
             (3, "<http://e/b>", "<http://p/y>", "<http://v/2>", G1)],
            QUAD_SCHEMA,
        )
        out = run_sparql(
            q2,
            "SELECT ?s WHERE { ?s <http://p/x> ?a . ?s <http://p/y> ?b ."
            " FILTER(?a IN (?b)) }",
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_optional_disjoint_domains_extends(self, quads, spark):
        q2 = spark.createDataFrame(
            [(0, "<http://e/a>", "<http://p/n>", '"x"', G1),
             (1, "<http://e/z>", "<http://p/m>", '"y"', G1)],
            QUAD_SCHEMA,
        )
        out = run_sparql(
            q2,
            "SELECT ?q ?n ?s ?a WHERE { ?q <http://p/n> ?n ."
            " OPTIONAL { ?s <http://p/m> ?a } }",
        )
        assert rows(out) == [("<http://e/a>", '"x"', "<http://e/z>", '"y"')]
        # empty optional side: left rows survive null-extended
        out2 = run_sparql(
            q2,
            "SELECT ?q ?s WHERE { ?q <http://p/n> ?n ."
            " OPTIONAL { ?s <http://p/none> ?a } }",
        )
        assert rows(out2) == [("<http://e/a>", None)]

    def test_ground_pattern_is_existence_not_multiplier(self, quads, spark):
        rows_in = [
            (0, "<http://e/a>", "<http://p/knows>", "<http://e/b>", G1),
            (1, "<http://e/a>", "<http://p/knows>", "<http://e/b>", G2),
            (2, "<http://e/x>", "<http://p/age>",
             '"1"^^<http://www.w3.org/2001/XMLSchema#integer>', G1),
        ]
        q2 = spark.createDataFrame(rows_in, QUAD_SCHEMA)
        out = run_sparql(
            q2,
            "SELECT ?x ?a WHERE { ?x <http://p/age> ?a ."
            " <http://e/a> <http://p/knows> <http://e/b> }",
        )
        assert out.count() == 1  # not multiplied by the 2 matching graphs
        # ground pattern FIRST: same existence semantics
        out2 = run_sparql(
            q2,
            "SELECT ?x WHERE { <http://e/a> <http://p/knows> <http://e/b> ."
            " ?x <http://p/age> ?a }",
        )
        assert out2.count() == 1
        # non-matching ground pattern filters everything out
        out3 = run_sparql(
            q2,
            "SELECT ?x WHERE { ?x <http://p/age> ?a ."
            " <http://e/a> <http://p/knows> <http://e/NO> }",
        )
        assert out3.count() == 0

    def test_ground_optional_keeps_all_solutions(self, quads):
        # OPTIONAL over a fully-ground pattern binds nothing and must never
        # eliminate solutions — whether the ground triple exists or not
        # (regression: the zero-column existence semi-join used to run first
        # and dropped every row when the ground OPTIONAL had no match)
        base = "SELECT ?x ?y WHERE { ?x <http://p/knows> ?y . OPTIONAL { %s } }"
        expected = [
            ("<http://e/a>", "<http://e/b>"),
            ("<http://e/b>", "<http://e/c>"),
            ("<http://e/x>", "<http://e/y>"),
        ]
        # non-matching ground OPTIONAL: all rows kept
        out = run_sparql(
            quads, base % "<http://e/a> <http://p/knows> <http://e/NO>"
        )
        assert rows(out) == expected
        # matching ground OPTIONAL: identical result (no multiplication)
        out2 = run_sparql(
            quads, base % "<http://e/a> <http://p/knows> <http://e/b>"
        )
        assert rows(out2) == expected

    def test_uchar_escapes_decode(self, quads, spark):
        q2 = spark.createDataFrame(
            [(0, "<http://e/a>", "<http://p/name>", '"Q!"', G1)], QUAD_SCHEMA
        )
        out = run_sparql(
            q2,
            'SELECT ?x WHERE { ?x <http://p/name> "\\u0051\\U00000021" }',
        )
        assert rows(out) == [("<http://e/a>",)]
        with pytest.raises(SparqlSyntaxError):
            run_sparql(q2, 'SELECT ?x WHERE { ?x <http://p/name> "\\uZZ" }')

    def test_limit_rejects_non_integer(self, quads):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(quads, "SELECT ?x WHERE { ?x ?p ?o } LIMIT 2.5")


class TestSetFilterFrom:
    """Mirrors the reference's own integration test
    (test/integration/sparqlhelper.js): inject a FROM clause."""

    def test_reference_integration_case(self):
        from rdf2hk_spark.plans.sparql import set_filter_from

        q = "SELECT ?x WHERE { ?x ?y ?z . }"
        out = set_filter_from(q, "hk://id/TBox")
        assert " ".join(out.split()).lower() == (
            "select ?x from <hk://id/tbox> where { ?x ?y ?z . }"
        )

    def test_scopes_execution(self, quads):
        from rdf2hk_spark.plans.sparql import set_filter_from

        q = set_filter_from(
            "SELECT ?x WHERE { ?x <http://p/knows> ?y }", "http://g/2"
        )
        out = run_sparql(quads, q)
        assert rows(out) == [("<http://e/x>",)]

    def test_where_inside_iri_not_confused(self):
        from rdf2hk_spark.plans.sparql import set_filter_from

        q = "SELECT ?x WHERE { ?x <http://p/WHERE> ?y }"
        out = set_filter_from(q, "<http://g/1>")
        assert out.startswith("SELECT ?x FROM <http://g/1> WHERE {")
        assert "<http://p/WHERE>" in out


class TestOtherForms:
    """ASK / DESCRIBE / CONSTRUCT — the other query forms the reference's
    builder generates (sparqlbuilder.js; fromUris emits DESCRIBE)."""

    def test_ask(self, quads):
        yes = run_sparql(quads, "ASK { <http://e/a> <http://p/knows> ?y }")
        no = run_sparql(quads, "ASK { <http://e/a> <http://p/none> ?y }")
        assert [r["ask"] for r in yes.collect()] == [True]
        assert [r["ask"] for r in no.collect()] == [False]

    def test_describe_iri(self, quads):
        out = run_sparql(quads, "DESCRIBE <http://e/a>")
        got = {(r["s"], r["p"], r["o"]) for r in out.collect()}
        assert ("<http://e/a>", "<http://p/knows>", "<http://e/b>") in got
        assert ("<http://e/a>", "<http://p/name>", '"Alice"@en') in got
        assert all(s == "<http://e/a>" for s, _, _ in got)

    def test_describe_var_with_where(self, quads):
        """describe ?s ?o where { values ?s {...} . ?s ?p ?o } — the exact
        shape fromUris generates at level 1 (sparqlfactory.js:360-393)."""
        out = run_sparql(
            quads,
            "DESCRIBE ?s ?o WHERE { VALUES ?s { <http://e/a> } . ?s ?p ?o }",
        )
        subs = {r["s"] for r in out.collect()}
        assert "<http://e/a>" in subs  # the seed
        assert "<http://e/b>" in subs  # its object, described too
        assert "<http://e/x>" not in subs

    def test_construct(self, quads):
        out = run_sparql(
            quads,
            "CONSTRUCT { ?y <http://p/knownBy> ?x } WHERE"
            " { ?x <http://p/knows> ?y }",
        )
        got = {(r["s"], r["p"], r["o"]) for r in out.collect()}
        assert got == {
            ("<http://e/b>", "<http://p/knownBy>", "<http://e/a>"),
            ("<http://e/c>", "<http://p/knownBy>", "<http://e/b>"),
            ("<http://e/y>", "<http://p/knownBy>", "<http://e/x>"),
        }

    def test_construct_unbound_template_var_raises(self, quads):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(
                quads,
                "CONSTRUCT { ?z <http://p/x> ?x } WHERE"
                " { ?x <http://p/knows> ?y }",
            ).collect()


PATH_ROWS = [
    (0, "<n1>", "<http://p/parent>", "<r1>", G1),
    (1, "<n2>", "<http://p/parent>", "<r1>", G1),
    (2, "<n3>", "<http://p/parent>", "<r2>", G1),
    (3, "<r1>", "<http://p/parent>", "<root>", G1),
    (4, "<r2>", "<http://p/parent>", "<root>", G1),
    (5, "<n1>", "<http://p/age>",
     '"4"^^<http://www.w3.org/2001/XMLSchema#integer>', G1),
    (6, "<n2>", "<http://p/age>",
     '"6"^^<http://www.w3.org/2001/XMLSchema#integer>', G1),
]


class TestPropertyPaths:
    """<p>* / <p>+ / <p>? — the forms the reference's generated SPARQL uses
    (hasParent* sparqlfactory.js:800, REFERENCES_URI? :718-744), compiled to
    bounded fixpoint joins."""

    @pytest.fixture(scope="class")
    def tree(self, spark):
        return spark.createDataFrame(PATH_ROWS, QUAD_SCHEMA).cache()

    def test_star_backward_from_ground(self, tree):
        out = run_sparql(
            tree, "SELECT ?c WHERE { ?c <http://p/parent>* <r1> }"
        )
        assert rows(out) == [("<n1>",), ("<n2>",), ("<r1>",)]

    def test_plus_excludes_zero_length(self, tree):
        out = run_sparql(
            tree, "SELECT ?c WHERE { ?c <http://p/parent>+ <r1> }"
        )
        assert rows(out) == [("<n1>",), ("<n2>",)]

    def test_question_is_zero_or_one(self, tree):
        out = run_sparql(
            tree, "SELECT ?c WHERE { ?c <http://p/parent>? <r1> }"
        )
        assert rows(out) == [("<n1>",), ("<n2>",), ("<r1>",)]
        # forward from ground: direct successor plus self
        out2 = run_sparql(
            tree, "SELECT ?a WHERE { <n1> <http://p/parent>? ?a }"
        )
        assert rows(out2) == [("<n1>",), ("<r1>",)]

    def test_plus_forward_multi_hop(self, tree):
        out = run_sparql(
            tree, "SELECT ?a WHERE { <n1> <http://p/parent>+ ?a }"
        )
        assert rows(out) == [("<r1>",), ("<root>",)]

    def test_both_vars_full_closure(self, tree):
        out = run_sparql(
            tree, "SELECT ?s ?a WHERE { ?s <http://p/parent>+ ?a }"
        )
        assert rows(out) == sorted([
            ("<n1>", "<r1>"), ("<n1>", "<root>"),
            ("<n2>", "<r1>"), ("<n2>", "<root>"),
            ("<n3>", "<r2>"), ("<n3>", "<root>"),
            ("<r1>", "<root>"), ("<r2>", "<root>"),
        ])

    def test_star_repeated_var_is_graph_terms(self, tree):
        # zero-length path with both ends the SAME variable: every term of
        # the active graph matches itself (SPARQL 1.1 ZeroLengthPath)
        out = run_sparql(tree, "SELECT ?x WHERE { ?x <http://p/parent>* ?x }")
        terms = {r[0] for r in out.collect()}
        assert "<root>" in terms and "<n3>" in terms
        # literals in object position are terms too
        assert '"4"^^<http://www.w3.org/2001/XMLSchema#integer>' in terms

    def test_cycle_converges(self, spark):
        cyc = spark.createDataFrame(
            [(0, "<a>", "<http://p/r>", "<b>", G1),
             (1, "<b>", "<http://p/r>", "<a>", G1)],
            QUAD_SCHEMA,
        )
        out = run_sparql(cyc, "SELECT ?s ?o WHERE { ?s <http://p/r>+ ?o }")
        assert rows(out) == sorted([
            ("<a>", "<a>"), ("<a>", "<b>"), ("<b>", "<a>"), ("<b>", "<b>"),
        ])
        fwd = run_sparql(cyc, "SELECT ?o WHERE { <a> <http://p/r>+ ?o }")
        assert rows(fwd) == [("<a>",), ("<b>",)]

    def test_ground_ground_existence(self, tree):
        # holding path keeps rows; failing path filters everything
        hold = run_sparql(
            tree,
            "SELECT ?x WHERE { ?x <http://p/age> ?v ."
            " <n1> <http://p/parent>* <root> }",
        )
        assert rows(hold) == [("<n1>",), ("<n2>",)]
        fail = run_sparql(
            tree,
            "SELECT ?x WHERE { ?x <http://p/age> ?v ."
            " <n3> <http://p/parent>+ <r1> }",
        )
        assert fail.count() == 0
        # trivial zero-length: <t> <p>* <t> always holds
        triv = run_sparql(
            tree,
            "SELECT ?x WHERE { ?x <http://p/age> ?v ."
            " <nowhere> <http://p/parent>* <nowhere> }",
        )
        assert triv.count() == 2

    def test_optional_question_path_reference_delete_shape(self, tree):
        # the reference's delete templates wrap REFERENCES_URI? in OPTIONAL
        # (sparqlfactory.js:718-744): rows keep their bindings when the
        # zero-or-one hop has no match
        out = run_sparql(
            tree,
            "SELECT ?x ?a WHERE { ?x <http://p/age> ?v ."
            " OPTIONAL { ?x <http://p/parent>? ?a } }",
        )
        got = rows(out)
        # n1/n2 each match themselves (zero hop) and their parent (one hop)
        assert ("<n1>", "<n1>") in got and ("<n1>", "<r1>") in got
        assert ("<n2>", "<n2>") in got and ("<n2>", "<r1>") in got

    def test_path_on_variable_predicate_raises(self, tree):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(tree, "SELECT ?x WHERE { ?x ?p* ?o }")

    def test_path_in_construct_template_raises(self, tree):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(
                tree,
                "CONSTRUCT { ?a <http://p/x>* ?b } WHERE"
                " { ?a <http://p/parent> ?b }",
            )


class TestCompoundPaths:
    """Sequence / alternative / inverse path expressions with composable
    modifiers — evaluated as pair relations (union, relational composition,
    reversal) with symbolic zero-length distribution."""

    @pytest.fixture(scope="class")
    def tree(self, spark):
        rows = PATH_ROWS + [
            (7, "<n1>", "<http://p/knows>", "<n2>", G1),
            (8, "<n2>", "<http://p/name>", '"Bob"', G1),
        ]
        return spark.createDataFrame(rows, QUAD_SCHEMA).cache()

    def test_sequence(self, tree):
        out = run_sparql(
            tree, "SELECT ?x ?v WHERE { ?x <http://p/knows>/<http://p/name> ?v }"
        )
        assert rows(out) == [("<n1>", '"Bob"')]

    def test_inverse(self, tree):
        out = run_sparql(
            tree, "SELECT ?y WHERE { ?x ^<http://p/knows> ?y }"
        )
        assert rows(out) == [("<n1>",)]

    def test_alternative(self, tree):
        out = run_sparql(
            tree,
            "SELECT ?v WHERE { <n1> (<http://p/knows>|<http://p/parent>) ?v }",
        )
        assert rows(out) == [("<n2>",), ("<r1>",)]

    def test_siblings_via_seq_inverse(self, tree):
        # parent then inverse-parent: nodes sharing n2's parent (incl. n2)
        out = run_sparql(
            tree,
            "SELECT ?s WHERE { ?s <http://p/parent>/^<http://p/parent> <n2> }",
        )
        assert rows(out) == [("<n1>",), ("<n2>",)]

    def test_modifier_on_group(self, tree):
        # (parent/parent)*: even-depth ancestors — zero (self) + root
        out = run_sparql(
            tree,
            "SELECT ?a WHERE"
            " { <n1> (<http://p/parent>/<http://p/parent>)* ?a }",
        )
        assert rows(out) == [("<n1>",), ("<root>",)]

    def test_inverse_with_closure(self, tree):
        # ^parent+ from the root: every descendant
        out = run_sparql(
            tree, "SELECT ?d WHERE { <root> ^<http://p/parent>+ ?d }"
        )
        assert rows(out) == [
            ("<n1>",), ("<n2>",), ("<n3>",), ("<r1>",), ("<r2>",),
        ]

    def test_optional_sequence_zero(self, tree):
        # zero-or-one over a two-step sequence: self plus the 2-hop target
        out = run_sparql(
            tree,
            "SELECT ?x WHERE"
            " { <n1> (<http://p/knows>/<http://p/name>)? ?x }",
        )
        assert rows(out) == [('"Bob"',), ("<n1>",)]

    def test_symmetric_alternative(self, tree):
        out = run_sparql(
            tree,
            "SELECT ?x ?y WHERE { ?x (<http://p/knows>|^<http://p/knows>) ?y }",
        )
        assert rows(out) == [("<n1>", "<n2>"), ("<n2>", "<n1>")]

    def test_sequence_preserves_bag_multiplicity(self, spark):
        # SPARQL 1.1 translates p/q to a BGP with a fresh variable — BAG
        # semantics: two distinct intermediate nodes ⇒ two solutions
        # (regression: per-node distinct() used to collapse them to one,
        # so COUNT over a path disagreed with the hand-written BGP)
        rows_in = [
            (0, "<x>", "<http://p/p>", "<m1>", G1),
            (1, "<x>", "<http://p/p>", "<m2>", G1),
            (2, "<m1>", "<http://p/q>", "<y>", G1),
            (3, "<m2>", "<http://p/q>", "<y>", G1),
        ]
        q2 = spark.createDataFrame(rows_in, QUAD_SCHEMA)
        via_path = run_sparql(
            q2,
            "SELECT ?a (COUNT(*) AS ?n) WHERE"
            " { ?a <http://p/p>/<http://p/q> ?b } GROUP BY ?a",
        )
        via_bgp = run_sparql(
            q2,
            "SELECT ?a (COUNT(*) AS ?n) WHERE"
            " { ?a <http://p/p> ?m . ?m <http://p/q> ?b } GROUP BY ?a",
        )
        assert rows(via_path) == rows(via_bgp) == [("<x>", 2)]
        # the ALP forms stay SET-semantics: closure over the same graph
        star = run_sparql(
            q2, "SELECT ?b WHERE { <x> (<http://p/p>/<http://p/q>)+ ?b }"
        )
        assert rows(star) == [("<y>",)]

    def test_double_inverse_is_rejected(self, tree):
        # grammar: PathEltOrInverse admits a single '^' — ^^<p> must raise,
        # not silently answer as the double inverse; ^(^<p>) stays legal
        with pytest.raises(SparqlSyntaxError, match="repeated"):
            run_sparql(tree, "SELECT ?a ?b WHERE { ?a ^^<http://p/knows> ?b }")
        out = run_sparql(
            tree, "SELECT ?a ?b WHERE { ?a ^(^<http://p/knows>) ?b }"
        )
        assert rows(out) == [("<n1>", "<n2>")]

    def test_negated_property_set(self, tree):
        # !<parent>: any edge whose predicate is NOT parent
        out = run_sparql(
            tree, "SELECT ?s ?o WHERE { ?s !<http://p/parent> ?o }"
        )
        got = rows(out)
        assert ("<n1>", "<n2>") in got  # knows edge
        assert all(o != "<root>" for _, o in got)  # parent edges excluded
        # negated SET excludes several predicates at once
        out2 = run_sparql(
            tree,
            "SELECT ?s ?o WHERE"
            " { ?s !(<http://p/parent>|<http://p/knows>) ?o }",
        )
        preds_left = {"<http://p/name>", "<http://p/age>"}
        assert len(rows(out2)) == sum(
            1 for _, _, p, _, _ in (PATH_ROWS + [
                (7, "<n1>", "<http://p/knows>", "<n2>", G1),
                (8, "<n2>", "<http://p/name>", '"Bob"', G1),
            ]) if p in preds_left
        )
        # inverse member inside the set (round 5): !(^parent) matches ONLY
        # reversed edges whose predicate is not parent — no forward edges
        out3 = run_sparql(
            tree, "SELECT ?s ?o WHERE { ?s !(^<http://p/parent>) ?o }"
        )
        got3 = rows(out3)
        assert ("<n2>", "<n1>") in got3  # reversed knows
        assert ("<n1>", "<n2>") not in got3  # forward edges never match

    def test_construct_template_rejects_compound(self, tree):
        with pytest.raises(SparqlSyntaxError, match="CONSTRUCT"):
            run_sparql(
                tree,
                "CONSTRUCT { ?a <http://p/x>/<http://p/y> ?b } WHERE"
                " { ?a <http://p/parent> ?b }",
            )

    def test_dangling_sequence_raises(self, tree):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(tree, "SELECT ?x WHERE { ?x <http://p/knows>/ }")


class TestAggregates:
    @pytest.fixture(scope="class")
    def tree(self, spark):
        return spark.createDataFrame(PATH_ROWS, QUAD_SCHEMA).cache()

    def test_count_group_by(self, tree):
        out = run_sparql(
            tree,
            "SELECT ?p (COUNT(?c) AS ?n) WHERE"
            " { ?c <http://p/parent> ?p } GROUP BY ?p",
        )
        assert out.columns == ["p", "n"]
        assert rows(out) == [("<r1>", 2), ("<r2>", 1), ("<root>", 2)]

    def test_global_count_star_and_sum(self, tree):
        out = run_sparql(
            tree,
            "SELECT (COUNT(*) AS ?n) (SUM(?v) AS ?total) WHERE"
            " { ?x <http://p/age> ?v }",
        )
        assert rows(out) == [(2, 10.0)]

    def test_count_distinct(self, tree):
        out = run_sparql(
            tree,
            "SELECT (COUNT(DISTINCT ?p) AS ?np) WHERE"
            " { ?c <http://p/parent> ?p }",
        )
        assert rows(out) == [(3,)]

    def test_min_max_term_order(self, tree):
        out = run_sparql(
            tree,
            "SELECT (MIN(?c) AS ?lo) (MAX(?c) AS ?hi) WHERE"
            " { ?c <http://p/parent> ?p }",
        )
        assert rows(out) == [("<n1>", "<r2>")]

    def test_bare_group_by_is_distinct_keys(self, tree):
        out = run_sparql(
            tree,
            "SELECT ?p WHERE { ?c <http://p/parent> ?p } GROUP BY ?p",
        )
        assert rows(out) == [("<r1>",), ("<r2>",), ("<root>",)]

    def test_aggregate_over_path(self, tree):
        # paths and aggregates compose: members-per-ancestor
        out = run_sparql(
            tree,
            "SELECT ?a (COUNT(?s) AS ?n) WHERE"
            " { ?s <http://p/parent>+ ?a } GROUP BY ?a",
        )
        assert rows(out) == [("<r1>", 2), ("<r2>", 1), ("<root>", 5)]

    def test_projected_var_must_be_grouped(self, tree):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(
                tree,
                "SELECT ?c (COUNT(?p) AS ?n) WHERE"
                " { ?c <http://p/parent> ?p }",
            )

    def test_alias_collision_raises(self, tree):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(
                tree,
                "SELECT ?p (COUNT(?c) AS ?p) WHERE"
                " { ?c <http://p/parent> ?p } GROUP BY ?p",
            )

    def test_duplicate_alias_raises(self, tree):
        with pytest.raises(SparqlSyntaxError, match="duplicate"):
            run_sparql(
                tree,
                "SELECT (COUNT(?c) AS ?n) (SUM(?v) AS ?n) WHERE"
                " { ?c <http://p/parent> ?v }",
            )

    def test_avg_distinct_raises(self, tree):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(
                tree,
                "SELECT (AVG(DISTINCT ?v) AS ?a) WHERE"
                " { ?x <http://p/age> ?v }",
            )

    def test_having_filters_groups(self, tree):
        out = run_sparql(
            tree,
            "SELECT ?p (COUNT(?c) AS ?n) WHERE { ?c <http://p/parent> ?p }"
            " GROUP BY ?p HAVING(?n >= 2)",
        )
        assert rows(out) == [("<r1>", 2), ("<root>", 2)]
        # bare GROUP BY (no aggregates): HAVING filters the group keys
        out2 = run_sparql(
            tree,
            "SELECT ?p WHERE { ?c <http://p/parent> ?p }"
            " GROUP BY ?p HAVING(?p != <root>)",
        )
        assert rows(out2) == [("<r1>",), ("<r2>",)]

    def test_having_without_grouping_raises(self, tree):
        with pytest.raises(SparqlSyntaxError, match="HAVING"):
            run_sparql(
                tree,
                "SELECT ?c WHERE { ?c <http://p/parent> ?p } HAVING(?c != <n1>)",
            )

    def test_order_by_aggregate_alias(self, tree):
        out = run_sparql(
            tree,
            "SELECT ?p (COUNT(?c) AS ?n) WHERE { ?c <http://p/parent> ?p }"
            " GROUP BY ?p ORDER BY DESC(?n) LIMIT 1",
        )
        got = rows(out)
        assert len(got) == 1 and got[0][1] == 2


class TestSecondReviewRegressions:
    """Second self-review round: ASK grammar/trailing tokens, hostile
    nesting, CONSTRUCT bnode freshness, set_filter_from form handling."""

    def test_ask_where_and_from(self, quads):
        out = run_sparql(quads, "ASK WHERE { ?s <http://p/knows> ?o }")
        assert [r["ask"] for r in out.collect()] == [True]
        scoped = run_sparql(
            quads, "ASK FROM <http://g/2> WHERE { ?s <http://p/name> ?n }"
        )
        assert [r["ask"] for r in scoped.collect()] == [False]  # names in g1

    def test_ask_trailing_tokens_raise(self, quads):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(quads, "ASK { ?s ?p ?o } LIMIT 5 junk")

    @pytest.mark.parametrize(
        "hostile",
        [
            "SELECT ?x WHERE " + "{" * 500,
            "SELECT ?x WHERE { ?x ?p ?o . FILTER(" + "(" * 500 + "?x = 1",
        ],
    )
    def test_hostile_nesting_raises_syntax_error(self, quads, hostile):
        with pytest.raises(SparqlSyntaxError):
            parse_sparql(hostile)

    def test_not_chain_collapses_by_parity(self, quads):
        """A '!' run is iterative + parity-collapsed: cheap to parse, shallow
        to compile, and !! = identity."""
        q = parse_sparql(
            "SELECT ?x WHERE { ?x ?p ?o . FILTER(" + "!" * 5001 + "BOUND(?x)) }"
        )
        assert q.variables == ["x"]  # parsed fine — 5001 '!' = one not
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/age> ?a . FILTER(!!(?a >= 18)) }",
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_deep_or_chain_compile_bounded(self, quads):
        text = (
            "SELECT ?x WHERE { ?x <http://p/knows> ?y . FILTER("
            + " || ".join(["?x = <http://e/zz>"] * 300)
            + ") }"
        )
        with pytest.raises(SparqlSyntaxError):
            run_sparql(quads, text)

    def test_construct_fresh_bnode_per_solution(self, quads):
        out = run_sparql(
            quads,
            "CONSTRUCT { ?x <http://p/attr> _:b } WHERE"
            " { ?x <http://p/knows> ?y }",
        )
        rows_ = out.collect()
        bnodes = {r["o"] for r in rows_}
        subjects = {r["s"] for r in rows_}
        assert len(bnodes) == len(subjects) == 3  # one fresh node per solution
        assert all(b.startswith("_:") for b in bnodes)

    def test_set_filter_from_ask_and_construct(self, quads):
        from rdf2hk_spark.plans.sparql import set_filter_from

        a = set_filter_from("ASK { ?s <http://p/knows> ?o }", "<http://g/2>")
        assert a.startswith("ASK FROM <http://g/2> {")
        assert [r["ask"] for r in run_sparql(quads, a).collect()] == [True]
        c = set_filter_from(
            "CONSTRUCT { ?x <http://p/a> ?y } WHERE { ?x <http://p/knows> ?y }",
            "<http://g/2>",
        )
        # inserted before WHERE, NOT before the template brace
        assert "} FROM <http://g/2> WHERE {" in " ".join(c.split())
        got = {tuple(r) for r in run_sparql(quads, c).collect()}
        assert got == {("<http://e/x>", "<http://p/a>", "<http://e/y>")}


class TestExistsMinusBind:
    """Round-5 surface: FILTER [NOT] EXISTS, MINUS (§18.5), BIND, value
    expressions, expression projections, GROUP_CONCAT/SAMPLE, and negated
    property sets with inverse members (§18.2.2.3)."""

    def test_exists_correlated(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " FILTER EXISTS { ?x <http://p/knows> ?y } }",
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_not_exists_correlated(self, quads):
        # e/a is known by nobody; e/b is known by e/a
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " FILTER NOT EXISTS { ?y <http://p/knows> ?x } }",
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_exists_parenthesized_form(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " FILTER ( NOT EXISTS { ?y <http://p/knows> ?x } ) }",
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_exists_uncorrelated(self, quads):
        # no shared variable: EXISTS keeps all iff the pattern matches at all
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " FILTER EXISTS { ?a <http://p/knows> ?b } }",
        )
        assert len(rows(out)) == 2
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " FILTER EXISTS { ?a <http://p/nope> ?b } }",
        )
        assert rows(out) == []

    def test_exists_with_unbound_shared_var(self, quads):
        # ?y is OPTIONAL-bound: unbound (x's row) stays FREE under EXISTS
        # substitution, so it matches ANY inner binding — x survives even
        # though its ?y is null; a/b keep their ground correlation
        out = run_sparql(
            quads,
            "SELECT ?x ?y WHERE { ?x <http://p/knows> ?z ."
            " OPTIONAL { ?x <http://p/name> ?y } ."
            " FILTER EXISTS { ?w <http://p/name> ?y } }",
        )
        assert rows(out) == [
            ("<http://e/a>", '"Alice"@en'),
            ("<http://e/b>", '"Bob"@en'),
            ("<http://e/x>", None),
        ]

    def test_having_exists_on_group_key(self, quads):
        # groups: a,b,x (each knows 1); only a and b have names
        out = run_sparql(
            quads,
            "SELECT ?x (COUNT(?y) AS ?cnt) WHERE"
            " { ?x <http://p/knows> ?y } GROUP BY ?x"
            " HAVING ( EXISTS { ?x <http://p/name> ?n } )",
        )
        assert rows(out) == [("<http://e/a>", 1), ("<http://e/b>", 1)]

    def test_having_not_exists_on_group_key(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x (COUNT(?y) AS ?cnt) WHERE"
            " { ?x <http://p/knows> ?y } GROUP BY ?x"
            " HAVING ( NOT EXISTS { ?x <http://p/name> ?n } )",
        )
        assert rows(out) == [("<http://e/x>", 1)]

    def test_having_exists_composed_with_agg_comparison(self, quads):
        # known-by-someone: b, c, y — so the never-known group keys are a, x
        out = run_sparql(
            quads,
            "SELECT ?x (COUNT(?y) AS ?cnt) WHERE"
            " { ?x <http://p/knows> ?y } GROUP BY ?x"
            " HAVING ( ?cnt >= 1 && NOT EXISTS { ?z <http://p/knows> ?x } )",
        )
        assert rows(out) == [("<http://e/a>", 1), ("<http://e/x>", 1)]

    def test_having_exists_uncorrelated(self, quads):
        # inner shares no variable: keeps all groups iff it matches at all
        hit = run_sparql(
            quads,
            "SELECT ?x (COUNT(?y) AS ?cnt) WHERE"
            " { ?x <http://p/knows> ?y } GROUP BY ?x"
            " HAVING ( EXISTS { ?a <http://p/name> ?b } )",
        )
        assert len(rows(hit)) == 3
        miss = run_sparql(
            quads,
            "SELECT ?x (COUNT(?y) AS ?cnt) WHERE"
            " { ?x <http://p/knows> ?y } GROUP BY ?x"
            " HAVING ( EXISTS { ?a <http://p/nope> ?b } )",
        )
        assert rows(miss) == []

    def test_exists_in_bind_if_condition(self, quads):
        # names exist for a and b; only a and b (not c) KNOW someone...
        # actually a, b, x know someone; a and b have names
        out = run_sparql(
            quads,
            "SELECT ?x ?v WHERE { ?x <http://p/name> ?n ."
            " BIND(IF(EXISTS { ?x <http://p/knows> ?y }, 1, 0) AS ?v) }",
        )
        assert rows(out) == [("<http://e/a>", 1.0), ("<http://e/b>", 1.0)]

    def test_exists_bare_in_bind_yields_boolean_terms(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?v WHERE { ?x <http://p/knows> ?z ."
            " BIND(EXISTS { ?x <http://p/name> ?n } AS ?v) }",
        )
        t = '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>'
        f = '"false"^^<http://www.w3.org/2001/XMLSchema#boolean>'
        assert rows(out) == [
            ("<http://e/a>", t),
            ("<http://e/b>", t),
            ("<http://e/x>", f),
        ]

    def test_not_exists_bare_in_bind(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?v WHERE { ?x <http://p/knows> ?z ."
            " BIND(NOT EXISTS { ?x <http://p/name> ?n } AS ?v) }",
        )
        t = '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>'
        assert [r for r in rows(out) if r[1] == t] == [("<http://e/x>", t)]

    def test_bind_exists_feeding_filter(self, quads):
        # the bound boolean term is filterable like any other term
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/knows> ?z ."
            " BIND(IF(EXISTS { ?x <http://p/name> ?n }, 1, 0) AS ?v)"
            " FILTER(?v > 0) }",
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_exists_in_select_expression(self, quads):
        # is-known: a is known by nobody, b is known by a
        out = run_sparql(
            quads,
            "SELECT ?x (IF(EXISTS { ?w <http://p/knows> ?x }, 1, 0) AS ?v)"
            " WHERE { ?x <http://p/name> ?n }",
        )
        assert rows(out) == [("<http://e/a>", 0.0), ("<http://e/b>", 1.0)]

    def test_exists_in_grouped_select_expression(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x (COUNT(?y) AS ?cnt)"
            " (IF(EXISTS { ?x <http://p/name> ?n }, 1, 0) AS ?named)"
            " WHERE { ?x <http://p/knows> ?y } GROUP BY ?x",
        )
        assert rows(out) == [
            ("<http://e/a>", 1, 1.0),
            ("<http://e/b>", 1, 1.0),
            ("<http://e/x>", 1, 0.0),
        ]

    def test_minus_shared_domain(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n . MINUS"
            ' { ?x <http://p/age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> } }',
        )
        assert rows(out) == [("<http://e/b>",)]

    def test_minus_vs_not_exists_divergence(self, quads):
        """The §18.5 divergence case: inner pattern shares NO variable with
        the outer solutions. MINUS removes nothing (no domain overlap ⇒
        not minus-compatible); NOT EXISTS removes everything (the pattern
        matches somewhere)."""
        minus = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " MINUS { ?a <http://p/knows> ?b } }",
        )
        assert rows(minus) == [("<http://e/a>",), ("<http://e/b>",)]
        nex = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " FILTER NOT EXISTS { ?a <http://p/knows> ?b } }",
        )
        assert rows(nex) == []

    def test_minus_null_shared_var_no_overlap(self, quads):
        # x's ?n is OPTIONAL-null: dom(mu) ∩ dom(mu') = {} for the MINUS
        # row, so x is NOT removed; a IS removed (bound 'Alice' matches)
        out = run_sparql(
            quads,
            "SELECT ?x ?n WHERE { ?x <http://p/knows> ?z ."
            " OPTIONAL { ?x <http://p/name> ?n } ."
            ' MINUS { ?q <http://p/name> ?n . ?q <http://p/age>'
            ' "42"^^<http://www.w3.org/2001/XMLSchema#integer> } }',
        )
        assert rows(out) == [
            ("<http://e/b>", '"Bob"@en'),
            ("<http://e/x>", None),
        ]

    def test_exists_inside_boolean_composes(self, quads):
        # formerly a documented raise; round 5 compiles embedded EXISTS
        # via marker columns (TestExistsInBooleanExpr has the full matrix)
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " FILTER(EXISTS { ?x <http://p/knows> ?y } && ?n = ?n) }",
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_bind_arithmetic_feeds_filter(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?a2 WHERE { ?x <http://p/age> ?a ."
            " BIND(?a * 2 + 1 AS ?a2) FILTER(?a2 > 40) }",
        )
        assert rows(out) == [("<http://e/a>", 85.0)]

    def test_bind_feeds_group_by(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?h (COUNT(?x) AS ?n) WHERE { ?x <http://p/age> ?a ."
            " BIND(FLOOR(?a / 10) AS ?h) } GROUP BY ?h",
        )
        assert rows(out) == [(1.0, 1), (4.0, 1)]

    def test_bind_rebind_raises(self, quads):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(
                quads,
                "SELECT ?x WHERE { ?x <http://p/age> ?a ."
                " BIND(?a + 1 AS ?a) }",
            )

    def test_bind_string_functions(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?b WHERE { ?x <http://p/name> ?n ."
            ' BIND(CONCAT(UCASE(?n), "!") AS ?b) FILTER(?b = "ALICE!") }',
        )
        assert rows(out) == [("<http://e/a>", '"ALICE!"')]

    def test_bind_str_of_iri_strips_brackets(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?l WHERE { ?x <http://p/knows> ?y ."
            " BIND(STRLEN(?x) AS ?l) } ",
        )
        # '<http://e/a>' → 'http://e/a' = 10 chars
        assert {r[0] for r in out.collect()} == {10}

    def test_expression_projection(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x (?a - 7 AS ?am) (STRLEN(?x) AS ?l)"
            " WHERE { ?x <http://p/age> ?a }",
        )
        assert rows(out) == [
            ("<http://e/a>", 35.0, 10),
            ("<http://e/b>", 10.0, 10),
        ]

    def test_expression_projection_alias_collision_raises(self, quads):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(
                quads,
                "SELECT ?x (?a + 1 AS ?x) WHERE { ?x <http://p/age> ?a }",
            )

    def test_expression_over_group_keys_and_aliases(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x (COUNT(?y) AS ?c) (?c * 10 AS ?c10)"
            " WHERE { ?x <http://p/knows> ?y } GROUP BY ?x",
        )
        assert rows(out) == [
            ("<http://e/a>", 1, 10),
            ("<http://e/b>", 1, 10),
            ("<http://e/x>", 1, 10),
        ]

    def test_expression_over_nongroup_var_raises(self, quads):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(
                quads,
                "SELECT (?y * 2 AS ?z) WHERE { ?x <http://p/knows> ?y }"
                " GROUP BY ?x",
            )

    def test_group_concat_separator_and_sample(self, quads):
        out = run_sparql(
            quads,
            'SELECT (GROUP_CONCAT(?n; SEPARATOR="|") AS ?all)'
            " (SAMPLE(?n) AS ?one) WHERE { ?x <http://p/name> ?n }",
        )
        assert rows(out) == [('"Alice"@en|"Bob"@en', '"Alice"@en')]

    def test_group_concat_distinct_default_sep(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?y (GROUP_CONCAT(DISTINCT ?x) AS ?who)"
            " WHERE { ?x <http://p/knows> ?y } GROUP BY ?y",
        )
        got = dict(rows(out))
        assert got["<http://e/b>"] == "<http://e/a>"

    def test_nps_inverse_member_only(self, quads):
        # !(^knows): ONLY reversed steps whose predicate is not 'knows' —
        # never a forward step (§18.2.2.3)
        out = run_sparql(
            quads,
            "SELECT ?a ?b WHERE { ?a !(^<http://p/knows>) ?b }",
        )
        got = rows(out)
        assert ('"Alice"@en', "<http://e/a>") in got
        assert ("<http://e/a>", "<http://e/b>") not in got  # forward knows
        assert ("<http://e/b>", "<http://e/a>") not in got  # reversed knows
        # reversed name ×2 + reversed age ×2 + reversed isa ×1 (G1+G2 corpus)
        assert len(got) == 5

    def test_nps_mixed_members(self, quads):
        # forward steps not in {name, age} ∪ reversed steps not in {knows}
        out = run_sparql(
            quads,
            "SELECT ?a ?b WHERE {"
            " ?a !(<http://p/name>|<http://p/age>|^<http://p/knows>) ?b }",
        )
        got = rows(out)
        # forward knows survives the forward branch
        assert ("<http://e/a>", "<http://e/b>") in got
        # reversed knows is excluded; reversed name/age/isa included
        assert ("<http://e/b>", "<http://e/a>") not in got
        assert ('"Alice"@en', "<http://e/a>") in got
        # forward: knows ×3 + isa ×1; reversed: name ×2 + age ×2 + isa ×1
        assert len(got) == 4 + 5

    def test_path_depth_error_is_typed(self, spark):
        from rdf2hk_spark import fixpoint
        from rdf2hk_spark.plans import sparql as S

        chain = spark.createDataFrame(
            [(i, f"<http://n/{i}>", "<http://p/next>", f"<http://n/{i+1}>",
              "<http://g>") for i in range(12)],
            QUAD_SCHEMA,
        )
        old = fixpoint.MAX_ROUNDS
        fixpoint.MAX_ROUNDS = 3
        try:
            with pytest.raises(S.PathDepthError):
                run_sparql(
                    chain,
                    "SELECT ?x WHERE { <http://n/0> <http://p/next>+ ?x }",
                ).collect()
        finally:
            fixpoint.MAX_ROUNDS = old
        # and with the default bound the same query answers fine
        out = run_sparql(
            chain, "SELECT ?x WHERE { <http://n/0> <http://p/next>+ ?x }"
        )
        assert out.count() == 12


class TestFilterBuiltins:
    """Round-5 extras: string/term builtins in FILTER — STRSTARTS/STRENDS/
    CONTAINS/LANGMATCHES, LANG/DATATYPE/COALESCE value functions, term-kind
    predicates, and value expressions as comparison operands."""

    @pytest.fixture(scope="class")
    def terms_quads(self, spark):
        rows = [
            (0, "<http://e/a>", "<http://p/knows>", "<http://e/b>", "<g>"),
            (2, "<http://e/a>", "<http://p/name>", '"Alice"@en', "<g>"),
            (3, "<http://e/b>", "<http://p/name>", '"Bob"@en-GB', "<g>"),
            (4, "<http://e/c>", "<http://p/name>", '"Carol"', "<g>"),
            (5, "<http://e/a>", "<http://p/age>",
             '"42"^^<http://www.w3.org/2001/XMLSchema#integer>', "<g>"),
            (6, "<http://e/x>", "<http://p/rel>", "_:b1", "<g>"),
        ]
        return spark.createDataFrame(rows, QUAD_SCHEMA).cache()

    def test_lang_exact_and_ranges(self, terms_quads):
        out = run_sparql(
            terms_quads,
            'SELECT ?x WHERE { ?x <http://p/name> ?n . FILTER(LANG(?n) = "en") }',
        )
        assert rows(out) == [("<http://e/a>",)]
        out = run_sparql(
            terms_quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            ' FILTER(LANGMATCHES(LANG(?n), "en")) }',
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]
        # plain literal: LANG is the empty string; '*' never matches it
        out = run_sparql(
            terms_quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            ' FILTER(LANGMATCHES(LANG(?n), "*")) }',
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_str_predicates_and_arith_operand(self, terms_quads):
        out = run_sparql(
            terms_quads,
            "SELECT ?x ?n WHERE { ?x <http://p/name> ?n ."
            ' FILTER(CONTAINS(?n, "aro") || STRENDS(STR(?x), "/b")) }',
        )
        assert rows(out) == [
            ("<http://e/b>", '"Bob"@en-GB'),
            ("<http://e/c>", '"Carol"'),
        ]
        out = run_sparql(
            terms_quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " FILTER(STRLEN(?n) + 1 > 5) }",
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/c>",)]

    def test_term_kind_predicates(self, terms_quads):
        out = run_sparql(
            terms_quads,
            "SELECT ?s ?o WHERE { ?s ?p2 ?o . FILTER(ISBLANK(?o)) }",
        )
        assert rows(out) == [("<http://e/x>", "_:b1")]
        out = run_sparql(
            terms_quads,
            "SELECT ?o WHERE { <http://e/a> ?p2 ?o . FILTER(ISLITERAL(?o)) }",
        )
        assert len(rows(out)) == 2  # name + age literals, not the knows IRI
        out = run_sparql(
            terms_quads,
            "SELECT ?o WHERE { ?s2 <http://p/rel> ?o . FILTER(!ISIRI(?o)) }",
        )
        assert rows(out) == [("_:b1",)]

    def test_datatype_projection_and_compare(self, terms_quads):
        out = run_sparql(
            terms_quads,
            "SELECT ?s WHERE { ?s <http://p/age> ?a . FILTER(DATATYPE(?a) ="
            " <http://www.w3.org/2001/XMLSchema#integer>) }",
        )
        assert rows(out) == [("<http://e/a>",)]
        out = run_sparql(
            terms_quads,
            "SELECT ?x (DATATYPE(?n) AS ?dt) WHERE { ?x <http://p/name> ?n }",
        )
        got = dict(rows(out))
        assert got["<http://e/c>"].endswith("XMLSchema#string>")
        assert got["<http://e/a>"].endswith("#langString>")

    def test_coalesce_with_optional(self, terms_quads):
        out = run_sparql(
            terms_quads,
            "SELECT ?x (COALESCE(?a, ?n) AS ?v) WHERE {"
            " ?x <http://p/name> ?n . OPTIONAL { ?x <http://p/age> ?a } }",
        )
        got = dict(rows(out))
        assert got["<http://e/a>"].startswith('"42"')  # age wins when bound
        assert got["<http://e/c>"] == '"Carol"'

    def test_mixed_domain_coalesce_raises(self, terms_quads):
        with pytest.raises(SparqlSyntaxError):
            run_sparql(
                terms_quads,
                "SELECT ?x WHERE { ?x <http://p/name> ?n ."
                " FILTER(COALESCE(STRLEN(?n), ?n) > 1) }",
            )


class TestGraphScope:
    """Round-5 extras: GRAPH <iri> scoping and GRAPH ?var binding."""

    @pytest.fixture(scope="class")
    def gquads(self, spark):
        rows = [
            (0, "<a>", "<p>", "<b>", "<http://g/1>"),
            (1, "<c>", "<p>", "<d>", "<http://g/2>"),
            (2, "<e>", "<p>", "<f>", C.HK_NULL_URI),
            (3, "<a>", "<q>", "<z>", "<http://g/1>"),
        ]
        return spark.createDataFrame(rows, QUAD_SCHEMA).cache()

    def test_graph_iri_scopes_patterns(self, gquads):
        out = run_sparql(
            gquads, "SELECT ?s WHERE { GRAPH <http://g/1> { ?s <p> ?o } }"
        )
        assert rows(out) == [("<a>",)]

    def test_graph_var_binds_named_graphs_only(self, gquads):
        out = run_sparql(
            gquads, "SELECT ?g ?s WHERE { GRAPH ?g { ?s <p> ?o } }"
        )
        # the null-graph sentinel quad (<e>) never binds a graph variable
        assert rows(out) == [
            ("<http://g/1>", "<a>"),
            ("<http://g/2>", "<c>"),
        ]

    def test_graph_var_shared_across_patterns(self, gquads):
        # both patterns must hold in the SAME graph
        out = run_sparql(
            gquads, "SELECT ?g WHERE { GRAPH ?g { ?s <p> ?o . ?s <q> ?z } }"
        )
        assert rows(out) == [("<http://g/1>",)]

    def test_compound_sequence_path_under_graph_var(self, gquads):
        # <a> <p> <b> and <a> <q> <z> live in g/1; the sequence <p>/<q>
        # needs a <q>-edge FROM <b> — none exists, so the composed path is
        # empty; inverse-then-forward ^<p>/<q> from <b> reaches <z> in g/1
        out = run_sparql(
            gquads,
            "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s (^<p>/<q>) ?o } }",
        )
        assert rows(out) == [("<http://g/1>", "<b>", "<z>")]

    def test_compound_alt_path_under_graph_var(self, gquads):
        out = run_sparql(
            gquads,
            "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s (<p>|<q>) ?o } }",
        )
        assert rows(out) == [
            ("<http://g/1>", "<a>", "<b>"),
            ("<http://g/1>", "<a>", "<z>"),
            ("<http://g/2>", "<c>", "<d>"),
        ]

    def test_compound_closure_path_under_graph_var(self, pathg):
        # (<p>)+ written compound (modifier on a parenthesized group) —
        # must agree with the simple-path twin, per graph
        out = run_sparql(
            pathg, "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s (<p>)+ ?o } }"
        )
        assert rows(out) == [
            ("<http://g/1>", "<a>", "<b>"),
            ("<http://g/1>", "<a>", "<c>"),
            ("<http://g/1>", "<b>", "<c>"),
            ("<http://g/2>", "<a>", "<d>"),
        ]

    def test_compound_zero_path_ground_under_graph_var(self, pathg):
        # (<p>/<p>)* from <a>: g/1 reaches <c> in one composed step; the
        # zero identity admits (g, a) for BOTH named graphs
        out = run_sparql(
            pathg,
            "SELECT ?g ?o WHERE { GRAPH ?g { <a> (<p>/<p>)* ?o } }",
        )
        assert rows(out) == [
            ("<http://g/1>", "<a>"),
            ("<http://g/1>", "<c>"),
            ("<http://g/2>", "<a>"),
        ]

    @pytest.fixture(scope="class")
    def pathg(self, spark):
        # per-graph chains: g1 a->b->c, g2 a->d, plus a null-sentinel edge
        rows = [
            (0, "<a>", "<p>", "<b>", "<http://g/1>"),
            (1, "<b>", "<p>", "<c>", "<http://g/1>"),
            (2, "<a>", "<p>", "<d>", "<http://g/2>"),
            (3, "<n>", "<p>", "<m>", C.HK_NULL_URI),
        ]
        return spark.createDataFrame(rows, QUAD_SCHEMA).cache()

    def test_simple_path_under_graph_var(self, pathg):
        # the closure must stay WITHIN each graph: (a,c) exists in g1 only,
        # never leaks a cross-graph composite like a->d->... into g1
        out = run_sparql(
            pathg, "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <p>+ ?o } }"
        )
        assert rows(out) == [
            ("<http://g/1>", "<a>", "<b>"),
            ("<http://g/1>", "<a>", "<c>"),
            ("<http://g/1>", "<b>", "<c>"),
            ("<http://g/2>", "<a>", "<d>"),
        ]

    def test_ground_start_path_under_graph_var(self, pathg):
        out = run_sparql(
            pathg, "SELECT ?g ?o WHERE { GRAPH ?g { <a> <p>+ ?o } }"
        )
        assert rows(out) == [
            ("<http://g/1>", "<b>"),
            ("<http://g/1>", "<c>"),
            ("<http://g/2>", "<d>"),
        ]

    def test_zero_length_path_under_graph_var(self, pathg):
        # * adds the per-graph ground diagonal: (g, a, a) for EVERY named
        # graph — and never for the null sentinel
        out = run_sparql(
            pathg, "SELECT ?g ?o WHERE { GRAPH ?g { <a> <p>* ?o } }"
        )
        assert rows(out) == [
            ("<http://g/1>", "<a>"),
            ("<http://g/1>", "<b>"),
            ("<http://g/1>", "<c>"),
            ("<http://g/2>", "<a>"),
            ("<http://g/2>", "<d>"),
        ]

    def test_optional_step_path_under_graph_var(self, pathg):
        out = run_sparql(
            pathg, "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <p>? ?o } }"
        )
        # one-step edges plus each graph's term diagonal
        got = rows(out)
        assert ("<http://g/1>", "<a>", "<b>") in got
        assert ("<http://g/1>", "<a>", "<a>") in got
        assert ("<http://g/2>", "<d>", "<d>") in got
        assert ("<http://g/2>", "<a>", "<c>") not in got
        assert all(g != C.HK_NULL_URI for g, _, _ in got)

    @pytest.fixture(scope="class")
    def subg(self, spark):
        rows = [
            (0, "<a>", "<p>", "<b>", "<http://g/1>"),
            (1, "<a>", "<p>", "<c>", "<http://g/1>"),
            (2, "<x>", "<p>", "<y>", "<http://g/2>"),
            (3, "<e>", "<p>", "<f>", C.HK_NULL_URI),
            (4, "<a>", "<q>", "<z>", "<http://g/1>"),
        ]
        return spark.createDataFrame(rows, QUAD_SCHEMA).cache()

    def test_aggregate_subquery_under_graph_var(self, subg):
        # per-graph COUNT: the graph column is an implicit group key
        out = run_sparql(
            subg,
            "SELECT ?g ?cnt WHERE { GRAPH ?g {"
            " { SELECT (COUNT(?s) AS ?cnt) WHERE { ?s <p> ?o } } } }",
        )
        assert rows(out) == [("<http://g/1>", 2), ("<http://g/2>", 1)]

    def test_grouped_subquery_under_graph_var(self, subg):
        out = run_sparql(
            subg,
            "SELECT ?g ?s ?n WHERE { GRAPH ?g {"
            " { SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <p> ?o }"
            " GROUP BY ?s } } }",
        )
        assert rows(out) == [
            ("<http://g/1>", "<a>", 2),
            ("<http://g/2>", "<x>", 1),
        ]

    def test_distinct_subquery_under_graph_var(self, subg):
        # DISTINCT applies per graph (the graph key rides the projection)
        out = run_sparql(
            subg,
            "SELECT ?g ?s WHERE { GRAPH ?g {"
            " { SELECT DISTINCT ?s WHERE { ?s <p> ?o } } } }",
        )
        assert rows(out) == [("<http://g/1>", "<a>"), ("<http://g/2>", "<x>")]

    def test_subquery_under_graph_var_correlates_with_patterns(self, subg):
        # the sibling pattern must hold in the SAME graph as the subquery
        out = run_sparql(
            subg,
            "SELECT ?g ?s WHERE { GRAPH ?g { ?w <q> ?z ."
            " { SELECT DISTINCT ?s WHERE { ?s <p> ?o } } } }",
        )
        assert rows(out) == [("<http://g/1>", "<a>")]

    def test_limit_in_subquery_under_graph_var_slices_per_graph(self, subg):
        # LIMIT under GRAPH ?var is a per-graph window slice: ONE row per
        # graph here — not a global LIMIT 1 (which would drop a graph)
        out = run_sparql(
            subg,
            "SELECT ?g ?o WHERE { GRAPH ?g {"
            " { SELECT ?o WHERE { ?s <p> ?o } ORDER BY ?o LIMIT 1 } } }",
        )
        assert rows(out) == [("<http://g/1>", "<b>"), ("<http://g/2>", "<y>")]
        # OFFSET composes: the SECOND object per graph (g/2 has only one)
        out2 = run_sparql(
            subg,
            "SELECT ?g ?o WHERE { GRAPH ?g {"
            " { SELECT ?o WHERE { ?s <p> ?o } ORDER BY ?o LIMIT 1 OFFSET 1"
            " } } }",
        )
        assert rows(out2) == [("<http://g/1>", "<c>")]
        # no ORDER BY: deterministic implementation-defined choice (all
        # projected columns ascending) — still one row per graph
        out3 = run_sparql(
            subg,
            "SELECT ?g ?o WHERE { GRAPH ?g {"
            " { SELECT ?o WHERE { ?s <p> ?o } LIMIT 1 } } }",
        )
        assert rows(out3) == [("<http://g/1>", "<b>"), ("<http://g/2>", "<y>")]

    def test_path_under_graph_var_joins_with_graph_var(self, pathg):
        # the bound ?g composes with other patterns in the same graph
        out = run_sparql(
            pathg,
            "SELECT ?g ?o WHERE { GRAPH ?g { <a> <p>+ ?o ."
            " ?x <p> <c> } }",
        )
        assert rows(out) == [
            ("<http://g/1>", "<b>"),
            ("<http://g/1>", "<c>"),
        ]

    def test_path_inside_graph_iri_scopes_closure(self, gquads, spark):
        chain = spark.createDataFrame(
            [(0, "<n1>", "<p>", "<n2>", "<http://g/1>"),
             (1, "<n2>", "<p>", "<n3>", "<http://g/2>")],
            QUAD_SCHEMA,
        )
        out = run_sparql(
            chain,
            "SELECT ?x WHERE { GRAPH <http://g/1> { <n1> <p>+ ?x } }",
        )
        # closure runs over graph 1 only: n3 (via graph 2) is unreachable
        assert rows(out) == [("<n2>",)]


class TestOffset:
    def test_limit_offset_slice(self, spark):
        rows = [(i, f"<n{i:02d}>", "<p>", f"<o{i}>", "<g>")
                for i in range(10)]
        q = spark.createDataFrame(rows, QUAD_SCHEMA)
        out = run_sparql(
            q, "SELECT ?s WHERE { ?s <p> ?o } ORDER BY ?s LIMIT 3 OFFSET 4"
        )
        assert [r["s"] for r in out.collect()] == ["<n04>", "<n05>", "<n06>"]
        out = run_sparql(
            q, "SELECT ?s WHERE { ?s <p> ?o } ORDER BY ?s OFFSET 8"
        )
        assert [r["s"] for r in out.collect()] == ["<n08>", "<n09>"]
        with pytest.raises(SparqlSyntaxError):
            run_sparql(q, "SELECT ?s WHERE { ?s <p> ?o } OFFSET -1")


class TestMultiValues:
    def test_multi_var_values_constrains(self, spark):
        q = spark.createDataFrame(
            [(0, "<a>", "<p>", "<b>", "<g>"), (1, "<c>", "<p>", "<d>", "<g>"),
             (2, "<e>", "<p>", "<f>", "<g>")], QUAD_SCHEMA,
        )
        out = run_sparql(
            q,
            "SELECT ?s ?o WHERE { ?s <p> ?o ."
            " VALUES (?s ?o) { (<a> <b>) (<c> <zzz>) } }",
        )
        assert rows(out) == [("<a>", "<b>")]

    def test_undef_matches_anything(self, spark):
        q = spark.createDataFrame(
            [(0, "<a>", "<p>", "<b>", "<g>"), (1, "<c>", "<p>", "<d>", "<g>"),
             (2, "<e>", "<p>", "<f>", "<g>")], QUAD_SCHEMA,
        )
        out = run_sparql(
            q,
            "SELECT ?s ?o WHERE { ?s <p> ?o ."
            " VALUES (?s ?o) { (<a> UNDEF) (UNDEF <f>) } }",
        )
        assert rows(out) == [("<a>", "<b>"), ("<e>", "<f>")]
        # fresh variable rides along; UNDEF row matches every solution
        out = run_sparql(
            q,
            "SELECT ?s ?tag WHERE { ?s <p> ?o ."
            ' VALUES (?s ?tag) { (<a> "t1") (UNDEF "any") } }',
        )
        assert rows(out) == [
            ("<a>", '"any"'), ("<a>", '"t1"'),
            ("<c>", '"any"'), ("<e>", '"any"'),
        ]

    def test_row_width_mismatch_raises(self, spark):
        q = spark.createDataFrame(
            [(0, "<a>", "<p>", "<b>", "<g>")], QUAD_SCHEMA
        )
        with pytest.raises(SparqlSyntaxError, match="width"):
            run_sparql(
                q,
                "SELECT ?s WHERE { ?s <p> ?o ."
                " VALUES (?s ?o) { (<a>) } }",
            )


class TestSubqueryAndValueBuiltins:
    """Round-5 extras: nested ``{ SELECT ... }`` subqueries (§18.2.4) and
    the IF / STRBEFORE / STRAFTER / SUBSTR / REPLACE value builtins."""

    def test_subquery_aggregate_join(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?c WHERE { ?x <http://p/name> ?n ."
            " { SELECT ?x (COUNT(?y) AS ?c)"
            "   WHERE { ?x <http://p/knows> ?y } GROUP BY ?x } }",
        )
        assert rows(out) == [("<http://e/a>", 1), ("<http://e/b>", 1)]

    def test_subquery_limit_applies_before_join(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x ?n WHERE { ?x <http://p/name> ?n ."
            " { SELECT ?x WHERE { ?x <http://p/knows> ?y }"
            "   ORDER BY ?x LIMIT 1 } }",
        )
        assert rows(out) == [("<http://e/a>", '"Alice"@en')]

    def test_subquery_projection_hides_inner_vars(self, quads):
        # ?y is bound inside the subquery but NOT projected: the outer ?y
        # is a FRESH variable, so the join must not constrain it
        out = run_sparql(
            quads,
            "SELECT ?x ?y WHERE {"
            " { SELECT ?x WHERE { ?x <http://p/knows> ?y } }"
            " ?x <http://p/name> ?y }",
        )
        assert rows(out) == [
            ("<http://e/a>", '"Alice"@en'),
            ("<http://e/b>", '"Bob"@en'),
        ]

    def test_subquery_distinct_multiplicity(self, quads):
        # without DISTINCT the subquery is a bag: <http://e/a> knows 1,
        # names 1 -> one row each; DISTINCT inside dedups before the join
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/name> ?n ."
            " { SELECT DISTINCT ?x WHERE { ?x <http://p/knows> ?y } } }",
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_subquery_no_shared_vars_cross(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?n ?z WHERE { <http://e/a> <http://p/name> ?n ."
            " { SELECT ?z WHERE { <http://e/x> <http://p/knows> ?z } } }",
        )
        assert rows(out) == [('"Alice"@en', "<http://e/y>")]

    def test_subquery_with_optional_null_shared_var(self, quads):
        # outer OPTIONAL leaves ?k null for <http://e/x>; the subquery
        # binds ?k -- compatibility join must keep the null row matched
        # against every subquery row, merging in the bound value
        out = run_sparql(
            quads,
            "SELECT ?s ?k WHERE { ?s <http://p/knows> ?o ."
            " OPTIONAL { ?s <http://p/age> ?k }"
            " { SELECT ?k WHERE { <http://e/a> <http://p/age> ?k } } }",
        )
        assert rows(out) == [
            (
                "<http://e/a>",
                '"42"^^<http://www.w3.org/2001/XMLSchema#integer>',
            ),
            (
                "<http://e/x>",
                '"42"^^<http://www.w3.org/2001/XMLSchema#integer>',
            ),
        ]

    def test_nested_group_compat_join_with_optional_null(self, quads):
        # same compatibility requirement through a PLAIN nested group: the
        # OPTIONAL leaves ?k null for <http://e/x>; the nested group binds
        # ?k for <http://e/a> only — null must match and merge the binding
        out = run_sparql(
            quads,
            "SELECT ?s ?k WHERE { ?s <http://p/knows> ?o ."
            " OPTIONAL { ?s <http://p/age> ?k }"
            " { <http://e/a> <http://p/age> ?k } }",
        )
        assert rows(out) == [
            (
                "<http://e/a>",
                '"42"^^<http://www.w3.org/2001/XMLSchema#integer>',
            ),
            (
                "<http://e/x>",
                '"42"^^<http://www.w3.org/2001/XMLSchema#integer>',
            ),
        ]

    def test_subquery_as_union_operand(self, quads):
        # bag union of the subselect's knowers {a, b, x} with the named
        # entities {a, b} — five rows, duplicates preserved
        out = run_sparql(
            quads,
            "SELECT ?x WHERE {"
            " { SELECT ?x WHERE { ?x <http://p/knows> ?y } }"
            " UNION { ?x <http://p/name> ?n } }",
        )
        assert rows(out) == [
            ("<http://e/a>",), ("<http://e/a>",),
            ("<http://e/b>",), ("<http://e/b>",),
            ("<http://e/x>",),
        ]

    def test_subquery_as_second_union_operand(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { { ?x <http://p/name> ?n }"
            " UNION { SELECT DISTINCT ?x WHERE"
            " { ?x <http://p/knows> ?y } } }",
        )
        assert rows(out) == [
            ("<http://e/a>",), ("<http://e/a>",),
            ("<http://e/b>",), ("<http://e/b>",),
            ("<http://e/x>",),
        ]

    def test_subquery_under_graph_var(self, quads):
        # round-5 extension: per-graph subquery evaluation — G1's knows
        # subjects bind under g/1, G2's under g/2, the sentinel never binds
        out = run_sparql(
            quads,
            "SELECT ?g ?x WHERE { GRAPH ?g {"
            " { SELECT ?x WHERE { ?x <http://p/knows> ?y } } } }",
        )
        assert rows(out) == [
            ("<http://g/1>", "<http://e/a>"),
            ("<http://g/1>", "<http://e/b>"),
            ("<http://g/2>", "<http://e/x>"),
        ]

    def test_subquery_under_ground_graph_scopes(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { GRAPH <http://g/2> {"
            " { SELECT ?x WHERE { ?x <http://p/knows> ?y } } } }",
        )
        assert rows(out) == [("<http://e/x>",)]

    def test_if_numeric_condition(self, quads):
        out = run_sparql(
            quads,
            'SELECT ?x (IF(?a > 20, "old", "young") AS ?grp)'
            " WHERE { ?x <http://p/age> ?a }",
        )
        assert rows(out) == [
            ("<http://e/a>", '"old"'),
            ("<http://e/b>", '"young"'),
        ]

    def test_if_mixed_domains_raises(self, quads):
        with pytest.raises(SparqlSyntaxError, match="domain"):
            run_sparql(
                quads,
                'SELECT (IF(?a > 20, "old", 5) AS ?grp)'
                " WHERE { ?x <http://p/age> ?a }",
            )

    def test_strbefore_strafter(self, quads):
        out = run_sparql(
            quads,
            'SELECT ?x (STRBEFORE(STR(?n), "li") AS ?b)'
            ' (STRAFTER(STR(?n), "li") AS ?af)'
            " WHERE { ?x <http://p/name> ?n }",
        )
        assert rows(out) == [
            ("<http://e/a>", '"A"', '"ce"'),
            ("<http://e/b>", '""', '""'),  # needle absent -> "" both
        ]

    def test_strbefore_strafter_empty_needle_spec_edges(self, quads):
        # fn:substring-before(s, "") = "" ; fn:substring-after(s, "") = s
        out = run_sparql(
            quads,
            'SELECT ?x (STRBEFORE(STR(?n), "") AS ?b)'
            ' (STRAFTER(STR(?n), "") AS ?af)'
            " WHERE { ?x <http://p/name> ?n }",
        )
        assert rows(out) == [
            ("<http://e/a>", '""', '"Alice"'),
            ("<http://e/b>", '""', '"Bob"'),
        ]

    def test_substr_two_and_three_arg(self, quads):
        out = run_sparql(
            quads,
            'SELECT ?x (SUBSTR(STR(?n), 2, 3) AS ?mid)'
            " (SUBSTR(STR(?n), 2) AS ?tail)"
            " WHERE { ?x <http://p/name> ?n }",
        )
        assert rows(out) == [
            ("<http://e/a>", '"lic"', '"lice"'),
            ("<http://e/b>", '"ob"', '"ob"'),
        ]

    def test_replace_regex_all_matches(self, quads):
        out = run_sparql(
            quads,
            'SELECT ?x (REPLACE(STR(?n), "[aeiou]", "_") AS ?r)'
            " WHERE { ?x <http://p/name> ?n }",
        )
        assert rows(out) == [
            ("<http://e/a>", '"Al_c_"'),
            ("<http://e/b>", '"B_b"'),
        ]

    def test_if_in_bind_feeds_filter(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?x WHERE { ?x <http://p/age> ?a ."
            ' BIND(IF(?a > 20, "keep", "drop") AS ?tag)'
            ' FILTER (?tag = "keep") }',
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_arity_errors(self, quads):
        for bad in (
            'SELECT (STRBEFORE(STR(?n)) AS ?z) WHERE { ?x <http://p/name> ?n }',
            'SELECT (SUBSTR(STR(?n), 1, 2, 3) AS ?z) WHERE { ?x <http://p/name> ?n }',
            'SELECT (REPLACE(STR(?n), "a") AS ?z) WHERE { ?x <http://p/name> ?n }',
        ):
            with pytest.raises(SparqlSyntaxError, match="argument"):
                run_sparql(quads, bad)


class TestExistsInBooleanExpr:
    """[NOT] EXISTS as an operand of a larger boolean FILTER — compiled
    via precomputed marker columns; the pure form stays a semi/anti join."""

    def test_exists_or_comparison(self, quads):
        # named entities: a, b — both know someone, neither name starts
        # with Z; the EXISTS disjunct alone keeps both rows
        out = run_sparql(
            quads,
            "SELECT ?s WHERE { ?s <http://p/name> ?n ."
            " FILTER(EXISTS { ?s <http://p/knows> ?o } ||"
            ' STRSTARTS(STR(?n), "Z")) }',
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_exists_or_true_branch_saves_row(self, quads):
        # <http://e/a> fails EXISTS{<a> knows <c>}? -- test a row kept
        # ONLY by the non-exists disjunct
        out = run_sparql(
            quads,
            "SELECT ?s WHERE { ?s <http://p/name> ?n ."
            " FILTER(EXISTS { ?s <http://p/knows> <http://e/c> } ||"
            ' STRSTARTS(STR(?n), "A")) }',
        )
        # b knows c (exists); a starts with A (disjunct)
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_not_exists_and_comparison(self, quads):
        # age > 10 AND no knowledge of <http://e/c>: a qualifies (knows b),
        # b does not (knows c)
        out = run_sparql(
            quads,
            "SELECT ?s WHERE { ?s <http://p/age> ?a ."
            " FILTER(?a > 10 && NOT EXISTS"
            " { ?s <http://p/knows> <http://e/c> }) }",
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_two_exists_conjunction(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?s WHERE { ?s <http://p/name> ?n ."
            " FILTER(EXISTS { ?s <http://p/knows> ?o } &&"
            " EXISTS { ?s <http://p/age> ?a }) }",
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_negated_exists_operand(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?s WHERE { ?s <http://p/name> ?n ."
            " FILTER(!EXISTS { ?s <http://p/knows> <http://e/c> } &&"
            " EXISTS { ?s <http://p/knows> ?o }) }",
        )
        assert rows(out) == [("<http://e/a>",)]

    def test_exists_no_shared_vars_in_disjunction(self, quads):
        # inner pattern shares nothing: matches-anywhere semantics (true)
        out = run_sparql(
            quads,
            "SELECT ?s WHERE { ?s <http://p/age> ?a ."
            " FILTER(?a > 100 || EXISTS"
            " { <http://e/x> <http://p/knows> ?z }) }",
        )
        assert rows(out) == [("<http://e/a>",), ("<http://e/b>",)]

    def test_exists_no_shared_vars_false_case(self, quads):
        out = run_sparql(
            quads,
            "SELECT ?s WHERE { ?s <http://p/age> ?a ."
            " FILTER(?a > 100 || EXISTS"
            " { <http://e/zzz> <http://p/knows> ?z }) }",
        )
        assert rows(out) == []

    def test_exists_with_nullable_shared_var(self, quads):
        # ?k is OPTIONAL-null for x: EXISTS must treat the unbound ?k as
        # free (matches any inner binding)
        out = run_sparql(
            quads,
            "SELECT ?s WHERE { ?s <http://p/knows> ?o ."
            " OPTIONAL { ?s <http://p/age> ?k }"
            " FILTER(EXISTS { ?q <http://p/age> ?k } &&"
            " EXISTS { ?s <http://p/knows> ?o2 }) }",
        )
        # every knower: a (k=42 exists), b (17 exists), x (null k free)
        assert rows(out) == [
            ("<http://e/a>",), ("<http://e/b>",), ("<http://e/x>",),
        ]

    def test_row_multiplicity_preserved(self, quads):
        # marker join must not fan out: one solution row in, one out even
        # when the inner group has MANY compatible rows
        out = run_sparql(
            quads,
            "SELECT ?s ?o WHERE { ?s <http://p/knows> ?o ."
            " FILTER(EXISTS { ?s <http://p/name> ?n } ||"
            " EXISTS { ?z <http://p/knows> ?s }) }",
        )
        assert rows(out) == [
            ("<http://e/a>", "<http://e/b>"),
            ("<http://e/b>", "<http://e/c>"),
        ]

    def test_exists_in_if_condition_in_select_expr(self, quads):
        # round-5 extension: EXISTS hoists to markers in SELECT expression
        # projections too — both age-bearing subjects (a, b) know someone
        out = run_sparql(
            quads,
            'SELECT ?s (IF(EXISTS { ?s <http://p/knows> ?o }, "y", "n")'
            " AS ?z) WHERE { ?s <http://p/age> ?a }",
        )
        assert rows(out) == [
            ("<http://e/a>", '"y"'),
            ("<http://e/b>", '"y"'),
        ]
        neg = run_sparql(
            quads,
            'SELECT ?s (IF(EXISTS { ?w <http://p/knows> ?s }, "y", "n")'
            " AS ?z) WHERE { ?s <http://p/age> ?a }",
        )
        assert rows(neg) == [
            ("<http://e/a>", '"n"'),
            ("<http://e/b>", '"y"'),
        ]

    def test_select_expr_exists_sees_active_graph(self, spark):
        # the EXISTS of a subquery's SELECT expression under GRAPH ?g must
        # test the graph the row was found in: <a> <p> ?o exists only in g2
        q = spark.createDataFrame(
            [
                (0, "<a>", "<q>", "<x>", "<http://g/1>"),
                (1, "<a>", "<p>", "<y>", "<http://g/2>"),
            ],
            QUAD_SCHEMA,
        )
        out = run_sparql(
            q,
            "SELECT ?g ?s ?e WHERE { GRAPH ?g { { SELECT ?s"
            " (EXISTS { ?s <p> ?o } AS ?e) WHERE { ?s <q> ?x } } } }",
        )
        f = '"false"^^<http://www.w3.org/2001/XMLSchema#boolean>'
        assert rows(out) == [("<http://g/1>", "<a>", f)]

    def test_pure_exists_still_fast_path(self, quads):
        from rdf2hk_spark.plans.sparql import parse_sparql
        from rdf2hk_spark.plans import sparql as S

        q = parse_sparql(
            "SELECT ?x WHERE { ?x <p> ?y ."
            " FILTER(NOT EXISTS { ?x <q> ?z }) }"
        )
        assert isinstance(q.where.items[-1], S.ExistsFilter)
        assert q.where.items[-1].positive is False


class TestHashFirstNullAwareJoins:
    """VERDICT r5 #4: when a shared variable CAN be unbound, the null-aware
    MINUS/EXISTS/compat joins must still plan as HASH joins keyed on the
    always-bound shared subset (equality conjuncts Catalyst can extract),
    never as a BroadcastNestedLoopJoin of two large frames. The theta form
    survives only when EVERY shared variable is nullable."""

    def _frames(self, spark):
        left = spark.createDataFrame(
            [("a", "1"), ("b", None), ("c", "3")], "k string, v string"
        )
        right = spark.createDataFrame(
            [("a", "1"), ("b", "9"), ("d", None)], "k string, v string"
        )
        return left, right

    def test_exists_one_nullable_var_uses_hash_join(self, spark):
        from rdf2hk_spark.plans.sparql import _exists_join

        left, right = self._frames(spark)
        out = _exists_join(left, right, True, {"v"})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # a: (1,1) compatible; b: left v unbound matches any; c: no k match
        assert sorted(r["k"] for r in out.collect()) == ["a", "b"]

    def test_not_exists_one_nullable_var_uses_hash_join(self, spark):
        from rdf2hk_spark.plans.sparql import _exists_join

        left, right = self._frames(spark)
        out = _exists_join(left, right, False, {"v"})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert sorted(r["k"] for r in out.collect()) == ["c"]

    def test_minus_one_nullable_var_uses_hash_join(self, spark):
        from rdf2hk_spark.plans.sparql import _minus

        left, right = self._frames(spark)
        out = _minus(left, right, {"v"})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # minus-compatibility: k always co-bound -> overlap holds wherever
        # k matches; a removed (agrees), b removed (v unbound on left
        # agrees with any), c survives (no right k=c)
        assert sorted(r["k"] for r in out.collect()) == ["c"]

    def test_values_undef_with_bound_shared_var_uses_hash_join(self, spark):
        q = spark.createDataFrame(
            [
                (0, "<a>", "<p>", "<x>", "<http://g/1>"),
                (1, "<b>", "<p>", "<y>", "<http://g/1>"),
                (2, "<b>", "<p>", "<z>", "<http://g/1>"),
            ],
            QUAD_SCHEMA,
        )
        out = run_sparql(
            q,
            "SELECT ?s ?o WHERE { ?s <p> ?o ."
            " VALUES (?s ?o) { (<a> UNDEF) (<b> <y>) } }",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # an equi-join keyed on the always-bound ?s (hash table or
        # hash-partitioned sort-merge, by size), ?o only in the residual
        assert re.search(r"(HashJoin|SortMergeJoin) \[s#\d+\]", plan), plan
        assert rows(out) == [("<a>", "<x>"), ("<b>", "<y>")]

    def test_all_nullable_keeps_theta_fallback_and_semantics(self, spark):
        from rdf2hk_spark.plans.sparql import _minus

        left = spark.createDataFrame([("1",), (None,), ("3",)], "v string")
        right = spark.createDataFrame([("1",), (None,)], "v string")
        out = _minus(left, right, {"v"})
        # §18.5: the all-unbound right solution overlaps nothing; only the
        # co-bound v=1 row is removed; the null left row survives (never
        # co-bound with any right solution)
        assert sorted(r["v"] or "_" for r in out.collect()) == ["3", "_"]


class TestGroundEndpointGraphVarSeededBfs:
    """VERDICT r5 #5: a ground endpoint under GRAPH ?var must take the
    seeded directional BFS over composite (g, n) keys — never materialize
    the full per-graph closure (_closure_pairs)."""

    @pytest.fixture(scope="class")
    def pathg(self, spark):
        rows = [
            (0, "<a>", "<p>", "<b>", "<http://g/1>"),
            (1, "<b>", "<p>", "<c>", "<http://g/1>"),
            (2, "<a>", "<p>", "<d>", "<http://g/2>"),
            (3, "<z>", "<p>", "<a>", "<http://g/2>"),
            (4, "<n>", "<p>", "<m>", C.HK_NULL_URI),
        ]
        return spark.createDataFrame(rows, QUAD_SCHEMA).cache()

    def test_ground_start_never_builds_full_closure(self, pathg, monkeypatch):
        from rdf2hk_spark.plans import sparql as S

        def boom(edges):
            raise AssertionError("_closure_pairs called for ground endpoint")

        monkeypatch.setattr(S, "_closure_pairs", boom)
        out = run_sparql(
            pathg, "SELECT ?g ?o WHERE { GRAPH ?g { <a> <p>+ ?o } }"
        )
        assert rows(out) == [
            ("<http://g/1>", "<b>"),
            ("<http://g/1>", "<c>"),
            ("<http://g/2>", "<d>"),
        ]

    def test_ground_object_seeded_backward_bfs(self, pathg, monkeypatch):
        from rdf2hk_spark.plans import sparql as S

        monkeypatch.setattr(
            S, "_closure_pairs",
            lambda e: (_ for _ in ()).throw(AssertionError("full closure")),
        )
        out = run_sparql(
            pathg, "SELECT ?g ?s WHERE { GRAPH ?g { ?s <p>+ <a> } }"
        )
        assert rows(out) == [("<http://g/2>", "<z>")]

    def test_ground_zero_length_diagonal_survives(self, pathg, monkeypatch):
        from rdf2hk_spark.plans import sparql as S

        monkeypatch.setattr(
            S, "_closure_pairs",
            lambda e: (_ for _ in ()).throw(AssertionError("full closure")),
        )
        out = run_sparql(
            pathg, "SELECT ?g ?o WHERE { GRAPH ?g { <a> <p>* ?o } }"
        )
        assert rows(out) == [
            ("<http://g/1>", "<a>"),
            ("<http://g/1>", "<b>"),
            ("<http://g/1>", "<c>"),
            ("<http://g/2>", "<a>"),
            ("<http://g/2>", "<d>"),
        ]

    def test_compound_ground_closure_never_builds_full_closure(
        self, pathg, monkeypatch
    ):
        from rdf2hk_spark.plans import sparql as S

        monkeypatch.setattr(
            S, "_closure_pairs",
            lambda e: (_ for _ in ()).throw(AssertionError("full closure")),
        )
        out = run_sparql(
            pathg, "SELECT ?g ?o WHERE { GRAPH ?g { <a> (<p>|<q>)+ ?o } }"
        )
        assert rows(out) == [
            ("<http://g/1>", "<b>"),
            ("<http://g/1>", "<c>"),
            ("<http://g/2>", "<d>"),
        ]


PARITY_ROWS = [
    (0, "<a>", "<p>", "<b>", "<http://g/1>"),
    (1, "<b>", "<p>", "<c>", "<http://g/1>"),
    (2, "<c>", "<q>", "<d>", "<http://g/1>"),
    (3, "<d>", "<p>", "<e>", "<http://g/1>"),
]


class TestPathGraphVarParity:
    """Over a dataset holding ONE named graph, a path under GRAPH ?g must
    answer exactly like the same path in the default graph: the default
    graph is the one-graph case of the per-graph evaluator."""

    @pytest.fixture(scope="class")
    def one_graph(self, spark):
        return spark.createDataFrame(PARITY_ROWS, QUAD_SCHEMA).cache()

    @pytest.mark.parametrize("mod", ["*", "+", "?"])
    @pytest.mark.parametrize("step", ["<p>", "(<p>|^<q>)"])
    @pytest.mark.parametrize(
        "shape", ["<a> {P} ?o", "?s {P} <c>", "<a> {P} <c>", "?s {P} ?o"]
    )
    def test_graph_var_matches_default_graph(self, one_graph, step, mod, shape):
        body = shape.replace("{P}", step + mod)
        vs = " ".join(t for t in body.split() if t.startswith("?"))
        if vs:
            plain = f"SELECT {vs} WHERE {{ {body} }}"
            graph = f"SELECT {vs} WHERE {{ GRAPH ?g {{ {body} }} }}"
        else:
            plain = f"ASK {{ {body} }}"
            graph = f"ASK {{ GRAPH ?g {{ {body} }} }}"
        assert rows(run_sparql(one_graph, graph)) == rows(
            run_sparql(one_graph, plain)
        )
