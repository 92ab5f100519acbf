"""End-to-end web pipeline tests: byte-identical extraction, P/R ≥ 0.95
triple recovery vs generator ground truth, checkpoint resume."""

import json
import os

import pytest
from pyspark.sql import functions as F

from rdf2hk_spark.pipeline import corpus, extract, linking, relations, runner

N_PAGES = 200


@pytest.fixture(scope="module")
def pages_df(spark):
    return corpus.pages(spark, N_PAGES).cache()


def test_corpus_schema_and_determinism(spark, pages_df):
    cols = dict(pages_df.dtypes)
    assert cols["url"] == "string"
    assert cols["warc_ts"] == "timestamp"
    assert cols["html"] == "binary"
    assert cols["text"] == "string"
    assert cols["lang"] == "string"
    assert pages_df.count() == N_PAGES
    # regenerate → identical bytes (seed-stable)
    again = corpus.pages(spark, N_PAGES)
    assert pages_df.select("url", "text").exceptAll(again.select("url", "text")).count() == 0


def test_extraction_byte_identical_per_url(spark, pages_df):
    """The input_hint invariant: extracted text == the corpus's text column,
    byte-for-byte, for every url; and re-extraction is identical."""
    ext = extract.extract_text(pages_df)
    bad = ext.filter(F.col("extracted_text") != F.col("text"))
    rows = bad.select("url", "text", "extracted_text").take(3)
    assert not rows, f"extraction mismatch, e.g. {rows}"
    ext2 = extract.extract_text(pages_df).withColumnRenamed("extracted_text", "t2")
    joined = ext.select("url", "extracted_text").join(
        ext2.select("url", "t2"), "url"
    )
    assert joined.filter(F.col("extracted_text") != F.col("t2")).count() == 0


def test_extract_invalid_utf8_batch_falls_back_per_batch():
    """A batch mixing a valid page with an invalid-UTF-8 page raises
    ArrowInvalid in the Arrow chain; the fallback still returns one text
    per row, the bad byte decoded as U+FFFD."""
    import pandas as pd

    out = extract.extract_text_udf.func(pd.Series([b"<p>ok</p>", b"\xff"]))
    assert list(out) == ["ok", "\ufffd"]


_EDGE_WS = ["\u00a0", "\u2028", "\u3000", "\u0085", "\u001c"]


def _edge_pages(ws):
    return [f"<p>{ws}hello{ws}</p>".encode(), f"{ws}<div>hello</div>{ws}".encode()]


@pytest.mark.parametrize("ws", _EDGE_WS, ids=[f"U+{ord(c):04X}" for c in _EDGE_WS])
def test_extract_chains_trim_unicode_whitespace_alike(ws):
    """Unicode whitespace at a page edge is trimmed by both chains, as
    ``str.strip()`` trims it."""
    import pandas as pd

    html = pd.Series(_edge_pages(ws))
    assert list(extract._extract_arrow(html)) == ["hello", "hello"]
    assert list(extract._extract_series(html)) == ["hello", "hello"]


@pytest.mark.parametrize("ws", _EDGE_WS, ids=[f"U+{ord(c):04X}" for c in _EDGE_WS])
def test_extract_text_independent_of_batch_mates(ws):
    """A page's text is the same alone in its batch and in a batch whose
    invalid-UTF-8 page sends it down the fallback chain."""
    import pandas as pd

    for page in _edge_pages(ws):
        alone = extract.extract_text_udf.func(pd.Series([page]))
        mixed = extract.extract_text_udf.func(pd.Series([page, b"\xff"]))
        assert list(alone) == [mixed[0]] == ["hello"]


def test_extract_unrelated_error_propagates(monkeypatch):
    import pandas as pd

    def broken(html):
        raise RuntimeError("not an Arrow data error")

    monkeypatch.setattr(extract, "_extract_arrow", broken)
    with pytest.raises(RuntimeError, match="not an Arrow data error"):
        extract.extract_text_udf.func(pd.Series([b"<p>ok</p>"]))


def test_relation_extraction_precision_recall(spark, pages_df):
    ext = extract.extract_text(pages_df)
    cat = corpus.catalog(spark)
    rels = relations.extract_relations(ext, cat)
    got = rels.select(
        "s_id", F.col("predicate").alias("p"), F.col("o_id").alias("o"),
        F.concat(F.lit("<ctx:"), F.col("url"), F.lit(">")).alias("g"),
    ).distinct()
    truth = corpus.ground_truth_triples(pages_df).distinct()
    n_got = got.count()
    n_truth = truth.count()
    n_hit = got.intersect(truth.select("s", "p", "o", "g").withColumnRenamed("s", "s_id")
                          .withColumnRenamed("o", "o")).count() if False else (
        got.join(truth, (got.s_id == truth.s) & (got.p == truth.p)
                 & (got.o == truth.o) & (got.g == truth.g), "inner").count()
    )
    precision = n_hit / n_got
    recall = n_hit / n_truth
    assert precision >= 0.95, (precision, n_hit, n_got)
    assert recall >= 0.95, (recall, n_hit, n_truth)


def test_mention_detection_finds_all_entities(spark, pages_df):
    ext = extract.extract_text(pages_df)
    cat = corpus.catalog(spark)
    m = relations.detect_mentions(ext, cat)
    # every page mentions its person, city, org
    per_page = m.groupBy("url").agg(F.countDistinct("entity_id").alias("n"))
    assert per_page.filter(F.col("n") < 3).count() == 0


def test_linking_prefers_matching_context(spark):
    # two candidates share the surface "Mercury"; contexts disambiguate
    mentions = spark.createDataFrame(
        [
            ("u1", "Mercury", "Mercury planet orbit solar system astronomy"),
            ("u2", "Mercury", "Mercury element metal chemistry liquid"),
        ],
        "url string, surface string, context_text string",
    )
    candidates = spark.createDataFrame(
        [
            ("Mercury", "<kb:planet/mercury>", "planet orbit solar system astronomy body"),
            ("Mercury", "<kb:element/hg>", "element metal chemistry liquid mercury"),
        ],
        "surface string, entity_id string, desc_text string",
    )
    out = {r["url"]: r["entity_id"] for r in linking.link_mentions(mentions, candidates).collect()}
    assert out["u1"] == "<kb:planet/mercury>"
    assert out["u2"] == "<kb:element/hg>"


def test_runner_end_to_end_and_resume(spark, tmp_path):
    out = str(tmp_path / "kgrun")
    m1 = runner.run(spark, out, n_pages=60, buckets=8)
    assert all(m1[s] > 0 for s in runner.STAGES), m1
    ents = spark.read.parquet(os.path.join(out, "stage=entities"))
    assert ents.count() > 0
    types = {r["type"] for r in ents.select("type").distinct().collect()}
    assert {"node", "link", "connector", "context"} <= types
    # lineage sidecars present and complete, with per-partition rows
    for s in runner.STAGES:
        with open(os.path.join(out, f"stage={s}", "_LINEAGE.json")) as f:
            lin = json.load(f)
        assert lin["complete"] and lin["rows"] > 0 and lin["partitions"]
    # resume: all stages skip
    m2 = runner.run(spark, out, n_pages=60, buckets=8)
    assert all(v == 0.0 for v in m2.values()), m2
    # partial resume: delete the last checkpoint → only it re-runs
    os.remove(os.path.join(out, "stage=entities", "_LINEAGE.json"))
    m3 = runner.run(spark, out, n_pages=60, buckets=8)
    assert m3["entities"] > 0 and m3["quads"] == 0.0
