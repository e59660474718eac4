"""The ``corpus_ops`` workload: seven declared corpus-operator queries from
``__spark_entry__.queries()``, each written to a noop sink, over
``documents`` and ``embeddings`` tables generated from the workload seed
with the shape of the repository's test tables. The check runs each query
once more, collected, against DuckDB over ``oracle_sql()``; the one
exception is ``minhash_dedup_keep``, whose DuckDB oracle replays XXH64 in
SQL and needs minutes even for 500 documents, so it is held to invariants
computed from exact shingle sets instead (see ``_minhash_keep_problems``).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from host import WORK

# layer (module under doonop_spark/operators) of each query
QUERIES = {
    "minhash_dedup_keep": "textdedup",
    "ngram_jaccard_dedup": "textdedup",
    "embedding_dedup_lsh": "textdedup",
    "ann_topk_ivf": "similarity",
    "pagerank": "graph",
    "quality_filter_chain": "qualityfilter",
    "token_vocab": "vocab",
}
N_DOCS = 600
N_VECS = 600
DIM = 64
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
NEAR_DUP_SHARE = 0.05


def metric_name(query: str) -> str:
    return f"{QUERIES[query]}.{query}_s"


def _documents(rng: np.random.Generator) -> pa.Table:
    """Random word soup over a 31-word vocabulary, 8-100 words a document;
    one in twenty documents copies an earlier one with one word changed, so
    the near-duplicate operators find pairs."""
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 101)))]
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit vectors around ten weak cluster centres, stored as float32."""
    labels = rng.integers(0, 10, N_VECS)
    centres = rng.normal(size=(10, DIM))
    v = rng.normal(size=(N_VECS, DIM)) + 0.5 * centres[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(v.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# modules whose Arrow UDFs the queries run
UDF_MODULES = [
    "doonop_spark.operators.textdedup",
    "doonop_spark.operators.similarity",
    "doonop_spark.functions.extract",
]


def build_tables(seed: int, path: str | None = None) -> str:
    """Write the seed's tables; returns their directory."""
    rng = np.random.default_rng(seed)
    path = path or os.path.join(WORK, "corpus_ops", str(seed))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(_documents(rng), os.path.join(path, "documents.parquet"))
    pq.write_table(_embeddings(rng), os.path.join(path, "embeddings.parquet"))
    return path


def timed_pass(spark, path: str, describe: bool = False):
    """Run every query and collect its rows (a few hundred at most, so the
    driver is as cheap a sink as a noop write). Returns each query's
    seconds and its rows; ``describe`` labels each query's Spark jobs."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sc = spark.sparkContext
    per, rows = {}, {}
    for name in QUERIES:
        if describe:
            sc.setJobDescription(f"perfbench:{name}")
        t = time.perf_counter()
        df = qs[name](spark, path)
        rows[name] = (list(df.columns), [tuple(r) for r in df.collect()])
        per[metric_name(name)] = time.perf_counter() - t
    if describe:
        sc.setLocalProperty("spark.job.description", None)
    return per, rows


def _canon(v):
    """Type-tagged value, so an int never equals a float."""
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", round(v, 9))
    return (type(v).__name__, v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)
    return [cols[i] for i in order], out


def _shingles(text: str, k: int = 5) -> set[tuple[str, ...]]:
    w = text.split()
    return {tuple(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}


def _minhash_keep_problems(path: str, kept: list[int]) -> list[str]:
    """Invariants of MinHash near-duplicate removal (threshold 0.8, 128
    hashes) that hold whatever the hash values are: kept ids are distinct
    input ids; of documents with identical text at most one survives; and
    a document whose exact 5-shingle Jaccard with every other document is
    below 0.5 is never removed (128 hashes agreeing on 80% of positions
    when the true Jaccard is under 0.5 has probability below 1e-11)."""
    docs = pq.read_table(os.path.join(path, "documents.parquet")).to_pydict()
    ids, texts = docs["doc_id"], docs["text"]
    bad = []
    if len(set(kept)) != len(kept) or not set(kept) <= set(ids):
        bad.append("minhash_dedup_keep: kept ids are not distinct input ids")
    keep = set(kept)
    by_text: dict[str, list[int]] = {}
    for i, t in zip(ids, texts):
        by_text.setdefault(t, []).append(i)
    if any(len(keep.intersection(g)) > 1 for g in by_text.values()):
        bad.append("minhash_dedup_keep: two documents with the same text kept")
    sh = [_shingles(t) for t in texts]
    for a in range(len(ids)):
        if ids[a] in keep:
            continue
        best = max(
            (len(sh[a] & sh[b]) / len(sh[a] | sh[b]) for b in range(len(ids)) if b != a),
            default=0.0,
        )
        if best < 0.5:
            bad.append(f"minhash_dedup_keep: removed doc {ids[a]} has no near duplicate")
            break
    return bad


def check(path: str, rows: dict) -> list[str]:
    """Mismatches between each query's collected rows and its DuckDB
    oracle, compared order-insensitively with typed values."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    bad = []
    with duckdb.connect() as con:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/{t}.parquet'")
        for name, (cols, got_rows) in rows.items():
            if name == "minhash_dedup_keep":
                i = cols.index("doc_id")
                bad += _minhash_keep_problems(path, [r[i] for r in got_rows])
                continue
            got = _normalize(cols, got_rows)
            tbl = con.execute(oracles[name]).arrow()
            ocols = list(tbl.column_names)
            want = _normalize(
                ocols, list(zip(*(tbl.column(c).to_pylist() for c in ocols)))
            )
            if got != want:
                bad.append(
                    f"{name}: {len(got[1])} rows {got[0]} vs oracle "
                    f"{len(want[1])} rows {want[0]}"
                )
    return bad
