"""Extensions-layer pass for the traced log_query run: the curation
registry entries over a seeded documents/embeddings corpus, each checked
against its ``queries.ORACLE_SQL`` through DuckDB.

The corpus has the shape of the engine's testdata: 5 000 documents as at
sf0.1, and 500 64-dim embeddings as at sf0.01, the one size band where
``embedding_cosine_neardup``'s automatic banding (257 to 512 vectors: 5
bits per band) is the fixed blocking its oracle hardcodes. One pass in a
fresh session costs about 40 s on 4 cores, most of it plan compilation,
which is why it runs in traced runs only and is not an end-to-end
workload (see README.md).
"""

from __future__ import annotations

import os
import random
import time

DOCS = 5000
VECTORS = 500
DIM = 64
FAMILIES = (
    ("extensions.curation_pipeline_ms", ("corpus_curation_pipeline", "curation_funnel")),
    ("extensions.dedup_ms", ("minhash_lsh_neardup",)),
    ("extensions.similarity_ms", ("embedding_cosine_neardup", "ann_cosine_topk")),
    ("extensions.text_ms", ("text_quality_score", "tfidf_top_terms")),
    ("extensions.retrieval_ms", ("bm25_topk", "hybrid_rrf_topk")),
)
_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark the "
    "line sort window a order data column join small customer query big "
    "filter stream group vector"
).split()


def make_corpus(seed: int, path: str) -> None:
    """documents/embeddings parquet shaped like the engine's testdata; a
    tenth of the documents are one-word edits of an earlier one, so the
    near-duplicate operators have pairs to find."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(DOCS):
        if i > 10 and rng.random() < 0.1:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 80))))
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(DOCS), pa.int64()),
                "text": texts,
                "lang": [rng.choice(("en", "zh", "es")) for _ in range(DOCS)],
                "source": [f"src{i % 5}" for i in range(DOCS)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(path, "documents.parquet"),
    )
    vrng = np.random.default_rng(seed)
    emb = (vrng.normal(size=(VECTORS, DIM)) * 0.1).astype("float32")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(VECTORS), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(vrng.integers(0, 4, VECTORS), pa.int32()),
            }
        ),
        os.path.join(path, "embeddings.parquet"),
    )


def _canonical(df) -> list[tuple]:
    import math

    import pandas as pd

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return f"{type(v).__name__}:{v}"

    cols = sorted(df.columns)
    return sorted(tuple(cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None))


def run(spark, work, seed: int, tracer) -> dict[str, float]:
    import duckdb

    from filebeat_to_clickhouse_spark.io import load_table
    from filebeat_to_clickhouse_spark.queries import ORACLE_SQL, QUERIES

    path = work.sub("corpus")
    make_corpus(seed, path)
    t = time.time()
    with tracer.span("io", "load_table"):
        load_table(spark, path, "documents")
        load_table(spark, path, "embeddings")
    out: dict[str, float] = {"io.load_table_ms": (time.time() - t) * 1000}
    con = duckdb.connect()
    failed = 0
    try:
        for t_name in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t_name} AS SELECT * FROM '{path}/{t_name}.parquet'")
        for metric, names in FAMILIES:
            ms = 0.0
            for name in names:
                with tracer.span("extensions", name, trace_id=name):
                    a = time.time()
                    got = QUERIES[name](spark, path).toPandas()
                    ms += (time.time() - a) * 1000
                if name == "minhash_lsh_neardup":
                    out["extensions.neardup_pairs"] = len(got)
                want = con.sql(ORACLE_SQL[name]).df()
                if sorted(got.columns) != sorted(want.columns) or _canonical(got) != _canonical(want):
                    failed += 1
            out[metric] = ms
    finally:
        con.close()
    out["extensions.curation_pass_s"] = sum(out[m] for m, _ in FAMILIES) / 1000
    out["extensions.oracle_failed"] = failed
    return out
