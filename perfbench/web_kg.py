"""web_kg: the production pipeline from HTML pages to N-Quads on disk.

extract_text -> extract_relations / detect_mentions -> relation_quads
-> parse_quads (bench.py options) -> serialize_entities -> write_nquads.

Checks, none of which trust the engine's own view of its output:
  - extracted text equals the generator's ``text`` byte for byte, per url;
  - relations read back from the written N-Quads score P >= 0.95 and
    R >= 0.95 against ground truth rebuilt in Python from the generator's
    entity choices (the extractor's name grammar misses multi-word names with
    a lowercase particle, e.g. "Juiz de Fora": R stays below 1 by design);
  - the N-Quads read back equal the pass's input quads as a set.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from perfbench import inputs
from rdf2hk_spark.pipeline.corpus import (
    P_BORN_IN, P_KNOWS, P_WORKS_FOR, city_id, org_id, person_id,
)

MIN_PRECISION = MIN_RECALL = 0.95


@dataclass
class State:
    spark: object
    cpus: int
    work: str
    pages: object
    n_pages: int
    text_by_url: dict | None = None
    truth: set | None = None
    html_mb: float = 0.0


def sizes(smoke: bool) -> dict:
    # the page count of the relation and round-trip checks' reference
    # measurement; recall sits ~1 point above its floor, and far fewer pages
    # would let a seed's city mix alone cross it
    return {"pages": 2000 if smoke else 6000}


def setup(spark, cpus: int, seed: int, work: str, smoke: bool) -> State:
    n = sizes(smoke)["pages"]
    pages = inputs.pages(spark, seed, n, partitions=2 * cpus).cache()
    pages.write.format("noop").mode("overwrite").save()
    return State(spark, cpus, work, pages, n)


def references(st: State) -> None:
    """Generator text and ground-truth triples, outside any timed region."""
    from pyspark.sql import functions as F

    tbl = st.pages.select(
        "url", "text", "pid", "cid", "oid", "kid",
        F.length("html").alias("html_len"),
    ).toArrow().to_pydict()
    st.text_by_url = dict(zip(tbl["url"], tbl["text"]))
    st.html_mb = sum(tbl["html_len"]) / 1e6
    truth = set()
    for url, pid, cid, oid, kid in zip(tbl["url"], tbl["pid"], tbl["cid"],
                                       tbl["oid"], tbl["kid"]):
        g = f"<ctx:{url}>"
        s = person_id(pid)
        truth.add((s, P_BORN_IN, city_id(cid), g))
        truth.add((s, P_WORKS_FOR, org_id(oid), g))
        truth.add((s, P_KNOWS, person_id(kid), g))
    st.truth = truth


def static_layer_metrics(st: State) -> dict:
    return {"pipeline.extract": {"html_mb": st.html_mb}}


def run_pass(st: State, tag: str):
    """One timed pass; returns ``[(name, seconds, check)]``, where
    ``check(corrupt)`` verifies the pass's outputs and releases them."""
    from rdf2hk_spark import constants as C
    from rdf2hk_spark.operators import parse, serialize
    from rdf2hk_spark.pipeline import corpus, extract, relations
    from rdf2hk_spark.sources import nquads

    out_dir = os.path.join(st.work, f"nquads-{tag}")
    t0 = time.perf_counter()
    ext = extract.extract_text(st.pages).select("url", "extracted_text").persist()
    cat = corpus.catalog(st.spark)
    rels = relations.extract_relations(ext, cat)
    ments = relations.detect_mentions(ext, cat)
    quads = relations.relation_quads(rels, ments, distinct=False).coalesce(
        max(st.cpus, st.n_pages // 25_000)
    )
    ents = parse.parse_quads(
        quads,
        parse.ParseOptions(
            create_context=True, set_node_context=True,
            assume_distinct_statements=True, property_salt=16,
        ),
    )
    rdf = serialize.serialize_entities(
        ents, serialize.SerializeOptions(convert_hk=False,
                                         default_graph=C.HK_NULL_URI),
    )
    nquads.write_nquads(rdf, out_dir)
    seconds = time.perf_counter() - t0

    def check(corrupt: bool):
        try:
            got_text = ext.toArrow().to_pydict()
            input_quads = set(zip(*quads.select("s", "p", "o", "g").toArrow()
                                  .to_pydict().values()))
        finally:
            ext.unpersist()
        written = read_nquads(out_dir)
        if corrupt:
            written.pop()
        return verify(st, dict(zip(got_text["url"], got_text["extracted_text"])),
                      input_quads, written)

    return [("web_kg_pass", seconds, check)]


def verify(st: State, text_by_url: dict, input_quads: set, written: set):
    text_bad = sum(
        1 for url, want in st.text_by_url.items() if text_by_url.get(url) != want
    ) + len(set(text_by_url) - set(st.text_by_url))
    rel_preds = {P_BORN_IN, P_WORKS_FOR, P_KNOWS}
    found = {q for q in written if q[1] in rel_preds}
    hit = len(found & st.truth)
    precision = hit / len(found) if found else 0.0
    recall = hit / len(st.truth)
    roundtrip_ok = written == input_quads
    detail = {
        "text_mismatches": text_bad,
        "precision": precision,
        "recall": recall,
        "relations_found": len(found),
        "relations_truth": len(st.truth),
        "quads_written": len(written),
        "quads_input": len(input_quads),
        "roundtrip_equal": roundtrip_ok,
    }
    ok = (text_bad == 0 and precision >= MIN_PRECISION
          and recall >= MIN_RECALL and roundtrip_ok)
    return ok, detail


def _unescape(lit: str) -> str:
    out, i = [], 0
    esc = {"n": "\n", "r": "\r", "t": "\t", '"': '"', "\\": "\\"}
    while i < len(lit):
        c = lit[i]
        if c == "\\" and i + 1 < len(lit) and lit[i + 1] in esc:
            out.append(esc[lit[i + 1]])
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def read_nquads(path: str) -> set:
    """Parse the written N-Quads in plain Python. Every quad of this
    pipeline lives in a named page graph, so the graph is the last term."""
    quads = set()
    for name in sorted(os.listdir(path)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(path, name), encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line.endswith(" ."):
                    raise ValueError(f"not an N-Quads line: {line!r}")
                s, p, rest = line[:-2].split(" ", 2)
                o, g = rest.rsplit(" ", 1)
                if o.startswith('"'):
                    o = _unescape(o)
                quads.add((s, p, o, g))
    return quads
