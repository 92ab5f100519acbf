"""Seeded benchmark inputs.

Everything here is a pure function of the seed: the same seed gives the same
bytes. The engine only ever sees the generated inputs (parquet files or a
page DataFrame); the references the checks compare against come from the
same generator, never from the operators under test.
"""

from __future__ import annotations

import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window order data column join small line customer query big "
    "stream group sort filter"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _shuffled(rng: random.Random, n: int) -> list[int]:
    order = list(range(n))
    rng.shuffle(order)
    return order


def write_tables(out_dir: str, seed: int, n_customers: int, n_suppliers: int,
                 n_docs: int, n_vectors: int) -> dict[str, int]:
    """TPC-H-shaped KG tables plus the documents/embeddings corpus, in the
    schema of the repository's testdata. Keys are dense (queries address
    fixed ids such as nation 0 or vec_id < 10); the seed draws every
    attribute and the physical row order. Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    }))
    # every region keeps at least one nation; the seed permutes which
    region_of = _shuffled(rng, len(REGIONS))
    nation_keys = _shuffled(rng, 25)
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(nation_keys, pa.int32()),
        "n_name": [f"NATION_{k}" for k in nation_keys],
        "n_regionkey": pa.array(
            [region_of[k % len(REGIONS)] for k in nation_keys], pa.int32()
        ),
    }))

    ckeys = _shuffled(rng, n_customers)
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(ckeys, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ckeys],
        "c_nationkey": pa.array([rng.randrange(25) for _ in ckeys], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in ckeys],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in ckeys],
    }))

    skeys = _shuffled(rng, n_suppliers)
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(skeys, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in skeys],
        "s_nationkey": pa.array([rng.randrange(25) for _ in skeys], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in skeys],
    }))

    # documents: random word streams, one in eight a near-copy (one word
    # replaced) of an earlier original, so LSH and clustering find real pairs
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if originals and rng.random() < 0.125:
            words = texts[rng.choice(originals)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 90))]
            originals.append(i)
        texts.append(" ".join(words))
    dkeys = _shuffled(rng, n_docs)
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(dkeys, pa.int64()),
        "text": [texts[k] for k in dkeys],
        "lang": [rng.choice(LANGS) for _ in dkeys],
        "source": [f"src{k % 20}" for k in dkeys],
        "n_chars": pa.array([len(texts[k]) for k in dkeys], pa.int64()),
    }))

    # embeddings: unit vectors around one centroid per label
    centroids = [[rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)]
                 for _ in range(EMBED_LABELS)]
    vecs, labels = [], []
    for _ in range(n_vectors):
        label = rng.randrange(EMBED_LABELS)
        v = [c + rng.gauss(0.0, 0.6) for c in centroids[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    vkeys = _shuffled(rng, n_vectors)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(vkeys, pa.int64()),
        "embedding": pa.array([vecs[k] for k in vkeys], pa.list_(pa.float32())),
        "label": pa.array([labels[k] for k in vkeys], pa.int32()),
    }))
    return {"region": len(REGIONS), "nation": 25, "customer": n_customers,
            "supplier": n_suppliers, "documents": n_docs,
            "embeddings": n_vectors}


# Boilerplate a real crawl carries around the article: head metadata and
# script/style blocks, all of which extraction must drop.
_META = "".join(
    f'<meta name="m{i}" content="{" ".join(VOCAB[i:i + 12])}">' for i in range(16)
)
_STYLE = "<style>" + "".join(
    f".c{i} {{ margin: {i}px; padding: 0 {i}px; color: #3{i % 10}3; }} "
    for i in range(24)
) + "</style>"
_SCRIPT = "<script>" + "".join(
    f"function f{i}(a) {{ return a * {i} + window.x{i}; }} " for i in range(28)
) + "</script>"


def pages(spark, seed: int, n_pages: int, partitions: int):
    """``corpus.pages`` restricted to the seed's window of ``n_pages`` ids,
    with a few KB of per-page boilerplate spliced into the html."""
    from pyspark.sql import functions as F
    from rdf2hk_spark.pipeline import corpus

    first = random.Random(seed).randrange(0, 200_000)
    df = corpus.pages(spark, first + n_pages).filter(F.col("page_id") >= first)
    body = F.substring_index(F.decode("html", "UTF-8"), "<body>", -1)
    html = F.concat(
        F.lit("<html><head>"), F.lit(_META),
        F.lit('<link rel="canonical" href="'), F.col("url"), F.lit('">'),
        F.lit("</head><body>"), F.lit(_STYLE), F.lit(_SCRIPT), body,
    )
    return df.withColumn("html", F.encode(html, "UTF-8")).repartition(partitions)
