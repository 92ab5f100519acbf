"""Scale-hazard regressions flagged in round 1: bounded two-phase top-k,
non-vacuous exact dedup, and \\uXXXX literal unescapes."""

import pytest
from pyspark.sql import functions as F, Window

from rdf2hk_spark.ops import dedup, similarity
from rdf2hk_spark.sources import nquads


def _synth_embeddings(spark, n, dim=4):
    """Deterministic unit-free synthetic vectors (values in [0,1))."""
    return spark.range(n).select(
        F.col("id").cast("int").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: ((F.col("id") * 31 + d * 17) % 97).cast("float") / 97.0,
        ).alias("embedding"),
    )


def test_topk_two_phase_matches_window_reference(spark):
    e = _synth_embeddings(spark, 200).repartition(16)
    q = e.filter(F.col("vec_id") < 5)
    got = similarity.cosine_topk(e, q, k=7)

    # independent reference: full scores ranked with a window function
    scored = (
        e.selectExpr("vec_id as cand_id", "embedding as c_vec")
        .crossJoin(q.selectExpr("vec_id as q_id", "embedding as q_vec"))
        .filter("cand_id != q_id")
        .select(
            "q_id", "cand_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "q_vec", "c_vec",
                        lambda x, y: x.cast("double") * y.cast("double"),
                    ),
                    F.lit(0.0), lambda a, v: a + v,
                ) * 1e4
            ).cast("long").alias("score_e4"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_e4"), F.asc("cand_id"))
    ref = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7)
        .select("q_id", F.col("rank").cast("int").alias("rank"), "cand_id", "score_e4")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_topk_skew_one_query_many_candidates(spark):
    """1 query × 10^6 candidates: the per-group aggregation state is bounded
    by the partition top-k, so a single hot query cannot pin one reducer with
    the whole corpus's scores."""
    e = _synth_embeddings(spark, 1_000_000).repartition(32)
    q = _synth_embeddings(spark, 1)
    got = similarity.cosine_topk(e, q, k=10).collect()
    assert len(got) == 10
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == list(range(1, 11))
    scores = [r["score_e4"] for r in sorted(got, key=lambda r: r["rank"])]
    assert scores == sorted(scores, reverse=True)


def test_multiprobe_lsh_beats_single_bucket_recall(spark, sf_dir):
    """Thin buckets truncate single-bucket LSH rank (8 planes → 256 buckets
    over a few hundred vectors ⇒ ~1-2 candidates per bucket). Multiprobe
    (own bucket + 8 Hamming-1 flips) must recover strictly more of the
    exact cosine top-5 — the failure mode VERDICT r3 item 7 flagged."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["cand_id"])
        for r in similarity.cosine_topk(e, q, k=5).collect()
    }
    single = {
        (r["q_id"], r["cand_id"])
        for r in similarity.ann_topk_lsh(e, q, k=5, planes=8, dim=64).collect()
    }
    multi = {
        (r["q_id"], r["cand_id"])
        for r in similarity.ann_topk_lsh(
            e, q, k=5, planes=8, dim=64, probe_bits=8
        ).collect()
    }
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi > recall_single, (recall_multi, recall_single)
    # multiprobe fills ranks the thin single buckets could not
    assert len(multi) > len(single)


def test_duplicate_clusters_transitive_components(spark):
    # chain 1-2, 2-3 plus separate 7-9: components collapse to their min id
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (9, 7)], "a long, b long"
    )
    got = {
        (r["id"], r["keep_id"])
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {
        ("1", "1"), ("2", "1"), ("3", "1"), ("7", "7"), ("9", "7"),
    }


def test_duplicate_clusters_long_chain_converges(spark):
    # a 40-node path needs label propagation well past one round; pointer
    # jumping converges in O(log n) — and the bounded default must converge,
    # not raise
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "a long, b long"
    )
    out = dedup.duplicate_clusters(pairs).collect()
    assert {r["keep_id"] for r in out} == {"0"}
    assert len(out) == 41
    # fixed-iteration variant is reproducible mid-state (no convergence run)
    two = dedup.duplicate_clusters(pairs, iters=2).collect()
    assert len(two) == 41


def test_exact_dedup_non_vacuous(spark):
    d = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "same text")],
        "doc_id int, text string",
    )
    got = {(r["keep_id"], r["dup_id"]) for r in dedup.exact_duplicates(d).collect()}
    assert got == {(1, 2), (1, 4)}


@pytest.mark.parametrize(
    "escaped,expected",
    [
        (r"caf\u00E9", "café"),
        (r"\uD83D\uDE00 face", "\N{GRINNING FACE} face"),  # surrogate pair
        (r"astral \U0001F600", "astral \U0001f600"),        # 8-hex form
        (r"tab\there", "tab\there"),
        (r"bs\\nliteral", "bs\\nliteral"),                  # \\ then n, NOT newline
        (r"q\"uote", 'q"uote'),
    ],
)
def test_unescape_literals(spark, escaped, expected):
    df = spark.createDataFrame([(f'"{escaped}"',)], "o string")
    got = df.select(
        nquads._unescape_literal(F.col("o")).alias("o")
    ).collect()[0]["o"]
    assert got == f'"{expected}"'


def test_nquads_read_decodes_u_escapes(spark, tmp_path):
    p = tmp_path / "u.nq"
    p.write_text(
        '<http://a> <http://p> "caf\\u00E9 \\uD83D\\uDE00" .\n'
    )
    q = nquads.read_nquads(spark, str(p))
    assert q.collect()[0]["o"] == '"café \U0001f600"'


class TestTurtleReader:
    def test_blank_node_property_list(self, spark):
        rows = nquads.parse_turtle_driver(
            '@prefix ex: <http://ex/> .\n'
            'ex:a ex:knows [ ex:name "Bob" ; ex:age 42 ] .\n'
        )
        triples = {(s, p, o) for _, s, p, o, _ in rows}
        bnodes = {s for s, p, o in triples if s.startswith("_:")}
        assert len(bnodes) == 1
        b = bnodes.pop()
        assert ("<http://ex/a>", "<http://ex/knows>", b) in triples
        assert (b, "<http://ex/name>", '"Bob"') in triples
        assert (
            b, "<http://ex/age>",
            '"42"^^<http://www.w3.org/2001/XMLSchema#integer>',
        ) in triples

    def test_collection(self, spark):
        rows = nquads.parse_turtle_driver(
            '@prefix ex: <http://ex/> .\n'
            'ex:a ex:list (ex:x ex:y) .\n'
        )
        triples = {(s, p, o) for _, s, p, o, _ in rows}
        rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        firsts = {(s, o) for s, p, o in triples if p == f"<{rdf}first>"}
        assert {o for _, o in firsts} == {"<http://ex/x>", "<http://ex/y>"}
        rests = {o for s, p, o in triples if p == f"<{rdf}rest>"}
        assert f"<{rdf}nil>" in rests

    def test_multiline_string_and_a(self, spark):
        rows = nquads.parse_turtle_driver(
            '@prefix ex: <http://ex/> .\n'
            'ex:a a ex:Thing ; ex:note """line1\nline2""" .\n'
        )
        triples = {(s, p, o) for _, s, p, o, _ in rows}
        rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        assert ("<http://ex/a>", f"<{rdf}type>", "<http://ex/Thing>") in triples
        assert ("<http://ex/a>", "<http://ex/note>", '"line1\nline2"') in triples

    def test_unsupported_syntax_raises(self, spark):
        with pytest.raises(nquads.TurtleSyntaxError):
            nquads.parse_turtle_driver("this is not turtle at all")
        with pytest.raises(nquads.TurtleSyntaxError):
            nquads.parse_turtle_driver("ex:a ex:b ex:c .")  # undeclared prefix

    def test_trig_graph_blocks(self, spark):
        rows = nquads.parse_turtle_driver(
            '@prefix ex: <http://ex/> .\n'
            'ex:a ex:p ex:b .\n'
            'GRAPH ex:g1 { ex:c ex:p ex:d . ex:e ex:p "v" }\n'
            'ex:g2 { ex:f ex:p ex:h . }\n'
        )
        quads = {(s, p, o, g) for _, s, p, o, g in rows}
        from rdf2hk_spark import constants as C
        assert ("<http://ex/a>", "<http://ex/p>", "<http://ex/b>",
                C.HK_NULL_URI) in quads
        assert ("<http://ex/c>", "<http://ex/p>", "<http://ex/d>",
                "<http://ex/g1>") in quads
        assert ("<http://ex/e>", "<http://ex/p>", '"v"', "<http://ex/g1>") in quads
        assert ("<http://ex/f>", "<http://ex/p>", "<http://ex/h>",
                "<http://ex/g2>") in quads


def test_embedding_near_duplicates_finds_seeded_pair(spark):
    e = _synth_embeddings(spark, 300, dim=8)
    dup = e.filter(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    got = similarity.embedding_near_duplicates(
        e.unionByName(dup), threshold_e4=9999, planes=6
    ).collect()
    pairs = {(r["a"], r["b"]): r["score_e4"] for r in got}
    # identical vectors share the bucket; score = dot = |v|^2 (generator
    # vectors are not unit-norm)
    v = [((7 * 31 + d * 17) % 97) / 97.0 for d in range(8)]
    import numpy as np
    expected = round(float(np.float32(0) + sum(
        float(np.float32(x)) * float(np.float32(x)) for x in v)) * 1e4)
    assert abs(pairs[(7, 1007)] - expected) <= 1


def test_ivf_topk_recall_against_bruteforce(spark):
    e = _synth_embeddings(spark, 400, dim=8)
    q = e.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=5).collect()
    approx = similarity.ivf_topk(e, q, k=5, n_cells=8, n_probe=8).collect()
    # probing ALL cells makes IVF exhaustive → identical to brute force
    assert sorted(map(tuple, approx)) == sorted(map(tuple, exact))
    partial = similarity.ivf_topk(e, q, k=5, n_cells=8, n_probe=2).collect()
    # fewer probes: a valid (possibly thinner) subset ranking, same queries
    assert {r["q_id"] for r in partial} == {0, 1, 2, 3, 4}
    by_q = {}
    for r in partial:
        by_q.setdefault(r["q_id"], []).append(r["score_e4"])
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)


def test_near_dup_multi_table_recall(spark, sf_dir):
    """OR-amplified LSH (tables=4) recovers seeded cosine≈0.96 near-dup
    pairs that a single 8-plane table misses (single-table catch rate at
    0.96 is ~(1-θ/π)^8 ≈ 47%); multi-table candidates are a strict superset
    on this corpus. Deterministic: fixed corpus + md5-derived planes."""
    import __spark_entry__ as entry

    corpus = entry._neardup_corpus(spark, sf_dir)
    seeded = {(i, i + 2_000_000) for i in range(25, 500, 50)}

    def hits(tables):
        got = similarity.embedding_near_duplicates(
            corpus, threshold_e4=9400, planes=8, tables=tables
        ).collect()
        return seeded & {(r["a"], r["b"]) for r in got}

    single, multi = hits(1), hits(4)
    assert single <= multi
    assert len(multi) > len(single), (sorted(single), sorted(multi))
    assert len(multi) >= 7  # ~92% expected recall over 10 seeded pairs


def test_ivf_trained_codebook(spark, sf_dir):
    """ivf_train: k-means as DataFrame aggregations → fixed-point integer
    centroids; probing all cells with the trained codebook is exhaustive
    (== brute force), and 4-probe recall@5 stays useful."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    cb = similarity.ivf_train(e, n_cells=16, iters=2)
    rows = cb.collect()
    assert 0 < len(rows) <= 16
    assert all(isinstance(x, int) for x in rows[0]["c_vec"])

    exact = {(r["q_id"], r["cand_id"])
             for r in similarity.cosine_topk(e, q, k=5).collect()}
    full = {(r["q_id"], r["cand_id"])
            for r in similarity.ivf_topk(
                e, q, k=5, n_cells=16, n_probe=16, centroids=cb).collect()}
    assert full == exact  # all-probe IVF is exhaustive

    probed = {(r["q_id"], r["cand_id"])
              for r in similarity.ivf_topk(
                  e, q, k=5, n_cells=16, n_probe=4, centroids=cb).collect()}
    recall = len(exact & probed) / len(exact)
    assert recall >= 0.5, recall


def test_lsh_band_key_paths_identical(spark):
    """The map-side band-key path (lsh_band_keys) and the exploded-signature
    path (minhash_signatures → groupBy banding) must derive byte-identical
    keys — candidates are then provably the same."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc{i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    keys_map = dedup.lsh_band_keys(docs, k=3, num_hashes=16, bands=4, rows_per_band=4)
    sig = dedup.minhash_signatures(dedup.word_shingles(docs, k=3), num_hashes=16)
    banded = sig.withColumn("band", (F.col("hidx") / 4).cast("int"))
    from rdf2hk_spark.ops.hashing import md5s
    keys_agg = banded.groupBy("id", "band").agg(
        md5s(F.concat_ws("|", F.sort_array(F.collect_list(F.concat(
            F.col("hidx").cast("string"), F.lit(":"), F.col("minh").cast("string")
        ))))).alias("bkey")
    )
    a = {(r["id"], r["band"]): r["bkey"] for r in keys_map.collect()}
    b = {(r["id"], r["band"]): r["bkey"] for r in keys_agg.collect()}
    assert a == b and len(a) == 12 * 4


def test_duplicate_clusters_shortlex_non_numeric_ids(spark):
    # ADVICE r4: the survivor rule is SHORTLEX on stringified ids — for
    # non-numeric ids of unequal length the SHORTEST id wins ('z' beats
    # 'abc'), not the lexicographic minimum; equal-length ties break
    # lexicographically ('aa' beats 'ab')
    pairs = spark.createDataFrame(
        [("abc", "z"), ("abc", "aaaa"), ("ab", "aa")], "a string, b string"
    )
    got = {
        (r["id"], r["keep_id"])
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {
        ("z", "z"), ("abc", "z"), ("aaaa", "z"), ("ab", "aa"), ("aa", "aa"),
    }


def test_duplicate_clusters_10k_chain_round_bound(spark):
    """Adversarial worst case for the O(log n) pointer-jumping claim: a
    10k-node PATH graph (diameter 10k). Convergence must land within
    ~log2(n)+2 rounds — a linear-propagation implementation would need
    ~10k rounds and hit fixpoint.MAX_ROUNDS instead."""
    import math

    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    stats: dict = {}
    out = dedup.duplicate_clusters(pairs, stats=stats)
    # every node labels to shortlex-min '0' (numeric min for digit ids)
    assert out.filter(F.col("keep_id") != "0").limit(1).count() == 0
    assert out.count() == n
    assert stats["rounds"] <= math.log2(n) + 2, stats


def test_ws_tokenizer_invariant_to_whitespace_noise(spark):
    """Round-5 ask: the \\s+ tokenizer makes shingles/signatures invariant
    to whitespace reformatting (tabs, runs, surrounding blanks) — the
    simple single-space rule is provably NOT (empty tokens shift every
    shingle)."""
    clean = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "lazy dog sleeps all day")],
        "doc_id long, text string",
    )
    messy = spark.createDataFrame(
        [(1, "\t the\tquick  brown\n fox \t jumps\n"),
         (2, "lazy   dog\t\tsleeps\nall  day")],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, dedup.minhash_signature_rows(clean, k=3).collect()))
    b = sorted(
        map(
            tuple,
            dedup.minhash_signature_rows(messy, k=3, tokenizer="ws").collect(),
        )
    )
    assert a == b and len(a) == 2 * 16
    # simple mode over the messy text DIVERGES (the test is not vacuous)
    c = sorted(map(tuple, dedup.minhash_signature_rows(messy, k=3).collect()))
    assert c != a
    # whitespace-only text: ws mode yields zero tokens, not [''].
    from rdf2hk_spark.ops import textstats

    blank = spark.createDataFrame(
        [(1, " \t\n "), (2, "one two")], "doc_id long, text string"
    )
    got = {
        r["id"]: r["n_ws_tokens"]
        for r in textstats.token_stats(blank, tokenizer="ws").collect()
    }
    assert got == {1: 0, 2: 2}
