"""query_mix: one client in a closed loop sending KG and corpus requests.

The request menu is a subset of the oracle-backed ``queries()`` of
``__spark_entry__.py``, one request type per layer it exercises:

  kg_sparql_select   plans.sparql   SPARQL text -> compiled BGP join + FILTER
  kg_context_closure plans.query    transitive context closure (fixpoint)
  kg_pagerank        ops.graph      fixed-point PageRank over the KG links
  doc_dup_clusters   ops.dedup      LSH band keys -> pairs -> components
  ann_lsh_topk       ops.similarity LSH top-k with exact re-rank
  doc_tfidf_terms    ops.textstats  per-document top TF-IDF terms

A round sends every request type once, in the fixed order above: the
first request of a process pays the JIT and worker warm-up, and a seed-drawn
order moved that cost between request types, widening the run-to-run spread
of a cold round by about 20%. The seed draws the tables. Each
answer is collected in full (every column crosses to the client) and
compared with the request's ``oracle_sql()`` re-derivation in DuckDB over the
same generated parquet files, under the normalisation of
``scripts/correctness_gate.py``. Oracle answers are computed before the
first request, outside any timed region.
"""

from __future__ import annotations

import importlib.util
import os
import time
from dataclasses import dataclass

from perfbench import inputs
from perfbench.host import ROOT

MENU = (
    "kg_sparql_select",
    "kg_context_closure",
    "kg_pagerank",
    "doc_dup_clusters",
    "ann_lsh_topk",
    "doc_tfidf_terms",
)
TABLES = ("region", "nation", "customer", "supplier", "documents", "embeddings")


@dataclass
class State:
    spark: object
    seed: int
    data_dir: str
    rows: dict
    oracle: dict | None = None
    normalize: object = None


# row counts of the repository's TPC-H sf0.1 testdata
SF01_ROWS = {"customers": 15000, "suppliers": 1000, "docs": 5000, "vectors": 2000}
# share of SF01_ROWS generated: a cold sf0.1 round takes ~46 s on a 4-core
# host and a whole run ~90 s, more than the run budget allows
SCALE = 0.4


def sizes(smoke: bool) -> dict:
    if smoke:
        return {"customers": 100, "suppliers": 10, "docs": 120, "vectors": 120}
    return {k: round(v * SCALE) for k, v in SF01_ROWS.items()}


def setup(spark, cpus: int, seed: int, work: str, smoke: bool) -> State:
    sz = sizes(smoke)
    data_dir = os.path.join(work, "tables")
    rows = inputs.write_tables(data_dir, seed, sz["customers"], sz["suppliers"],
                               sz["docs"], sz["vectors"])
    # hold every table in memory, as a store would; requests read the same
    # paths, so Spark's cache manager serves them from these frames
    for t in TABLES:
        df = spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")).cache()
        df.write.format("noop").mode("overwrite").save()
    return State(spark, seed, data_dir, rows)


def _normalize():
    spec = importlib.util.spec_from_file_location(
        "correctness_gate", os.path.join(ROOT, "scripts", "correctness_gate.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def references(st: State) -> None:
    import duckdb

    import __spark_entry__ as entry

    normalize = _normalize()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(st.data_dir, t)}.parquet'"
            )
        st.oracle = {}
        for name in MENU:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            st.oracle[name] = (sorted(cols), normalize(res.fetchall(), cols))
    finally:
        con.close()
    st.normalize = normalize


def static_layer_metrics(st: State) -> dict:
    return {}


def run_pass(st: State, tag: str):
    """One round: every request type once. Returns
    ``[(name, seconds, check)]`` per request."""
    import __spark_entry__ as entry

    queries = entry.queries()
    out = []
    for name in MENU:
        t0 = time.perf_counter()
        df = queries[name](st.spark, st.data_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        seconds = time.perf_counter() - t0

        def check(corrupt: bool, name=name, cols=cols, rows=rows):
            if corrupt:
                rows = rows[1:]
            want_cols, want = st.oracle[name]
            ok = sorted(cols) == want_cols and st.normalize(rows, cols) == want
            return ok, {"rows": len(rows), "oracle_rows": len(want)}

        out.append((name, seconds, check))
    return out
