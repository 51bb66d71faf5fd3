"""Seeded workload generator for the GraphRAG benchmark.

Everything the program under test reads is made here from ``seed``
alone; the same seed and sizes give byte-identical files. The corpus
follows the shape of the repository's synthetic ``documents`` table at
sf0.1, whose statistics are baked in below (the test-data tables are
not part of a benchmark checkout, so they are not read at run time):

* 30 base words, drawn uniformly, 10 to 100 words per document;
* ``lang`` weights en .412 / zh .151 / es .149 / fr .148 / de .140;
* ``source`` = ``src{doc_id % 20}``.

On top of that shape each document carries one or two topic tokens
(``k17``) drawn from a Zipf law, so a query term selects a small,
skewed share of the corpus the way real retrieval terms do, and a
64-dimensional unit embedding near its first topic's center (cosine
~0.7; two documents of one topic ~0.5), so documents on one subject
cluster the way encoder embeddings do.

Planted structure, recorded in each manifest so the correctness gates
know the answer:

* exact duplicates: byte copies of another document's text under a
  new id (``exact_dedup`` must remove exactly these);
* near duplicates in the change feed: one word replaced, embedding
  perturbed to cosine ~0.99 with its source document;
* stale re-crawls in the change feed: a lower-``seq`` row for the same
  id in the same batch whose text carries the ``STALE_MARK`` token.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.412, 0.151, 0.149, 0.148, 0.140)
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100
EMB_DIM = 64
N_TOPICS = 400
ZIPF_A = 1.2
TOPIC_NOISE = 1.0  # norm of the noise added to a topic center
STALE_MARK = "stalecrawl"
QUERY_WORDS = 8
QUERY_KINDS = ("hybrid", "dense", "community")
# the kind of the n-th query in arrival order: every run serves the same
# mix (half dense, a quarter each hybrid and community), so the median
# falls among the cheap kinds and the 90th percentile among hybrids
KIND_CYCLE = ("dense", "hybrid", "dense", "community")

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
)
CHANGE_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("embedding", pa.list_(pa.float32())),
        ("seq", pa.int64()),
        ("op", pa.string()),
    ]
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per artifact, so resizing one artifact
    # never shifts the random draws of another
    salt = int.from_bytes(stream.encode(), "little") % (1 << 32)
    return np.random.default_rng([seed, salt])


def _zipf_topics(rng: np.random.Generator, n: int) -> np.ndarray:
    ranks = np.arange(1, N_TOPICS + 1, dtype=np.float64)
    p = ranks**-ZIPF_A
    return rng.choice(N_TOPICS, size=n, p=p / p.sum())


def _doc_text(rng: np.random.Generator, topics: list[int]) -> str:
    n = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
    words = [BASE_WORDS[i] for i in rng.integers(0, len(BASE_WORDS), n)]
    for t in topics:
        for _ in range(int(rng.integers(1, 4))):
            words.insert(int(rng.integers(0, len(words) + 1)), f"k{t}")
    return " ".join(words)


def _unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _topic_vectors(seed: int, rng: np.random.Generator, topics) -> np.ndarray:
    centers = _unit_vectors(_rng(seed, "topic-centers"), N_TOPICS)
    noise = rng.standard_normal((len(topics), EMB_DIM)) / np.sqrt(EMB_DIM)
    v = centers[np.asarray(topics, dtype=np.int64)] + TOPIC_NOISE * noise
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _perturb(rng: np.random.Generator, v: np.ndarray, noise: float) -> np.ndarray:
    w = v.astype(np.float64) + noise * rng.standard_normal(v.shape) / np.sqrt(EMB_DIM)
    return (w / np.linalg.norm(w)).astype(np.float32)


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", write_statistics=True)
    return os.path.getsize(path)


def _doc_table(ids, texts) -> pa.Table:
    ids = [int(i) for i in ids]
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[_lang_of(i)] for i in ids],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": [len(t) for t in texts],
        },
        schema=DOC_SCHEMA,
    )


def _lang_of(doc_id: int) -> int:
    # stateless per-id draw, so a document keeps its language wherever
    # it is generated (corpus, duplicate, change feed)
    u = np.random.default_rng([doc_id, 7]).random()
    return int(np.searchsorted(np.cumsum(LANG_WEIGHTS), u * sum(LANG_WEIGHTS)))


def make_corpus(
    out_dir: str, seed: int, n_docs: int, dup_frac: float = 0.02
) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (the sf
    directory layout ``sources.read_table`` reads) for ``n_docs``
    documents, ``round(n_docs * dup_frac)`` of them planted exact
    duplicates of an original. Returns the manifest (also written as
    ``manifest.json``)."""
    rng = _rng(seed, "corpus")
    n_dups = int(round(n_docs * dup_frac))
    n_orig = n_docs - n_dups
    topics = _zipf_topics(rng, n_orig)
    second = _zipf_topics(rng, n_orig)
    has_second = rng.random(n_orig) < 0.3
    texts, seen = [], set()
    for i in range(n_orig):
        ts = [int(topics[i])] + ([int(second[i])] if has_second[i] else [])
        t = _doc_text(rng, ts)
        while t in seen:  # originals must be pairwise distinct
            t = _doc_text(rng, ts)
        seen.add(t)
        texts.append(t)
    # duplicates take the ids above every original: exact_dedup keeps
    # the smallest id of a content group, so it must drop exactly these
    src = rng.choice(n_orig, size=n_dups, replace=False)
    dup_ids = list(range(n_orig, n_docs))
    texts += [texts[int(s)] for s in src]
    ids = list(range(n_docs))
    doc_bytes = _write(_doc_table(ids, texts), os.path.join(out_dir, "documents.parquet"))
    emb = _topic_vectors(seed, _rng(seed, "corpus-emb"), topics)
    emb = np.concatenate([emb, emb[src]])  # a duplicate has its source's vector
    emb_bytes = _write(
        pa.table({"vec_id": ids, "embedding": list(emb)}, schema=EMB_SCHEMA),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    manifest = {
        "seed": seed,
        "n_docs": n_docs,
        "n_exact_dups": n_dups,
        "dup_ids": dup_ids,
        "dup_of": [int(s) for s in src],
        "input_bytes": doc_bytes + emb_bytes,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def make_queries(
    out_path: str, seed: int, corpus_dir: str, n_pool: int, n_stream: int
) -> dict:
    """Write the serving query pool and a Zipf-repeating stream over it.

    A query is a question-length text (one or two topic tokens among
    base words, ``QUERY_WORDS`` tokens) plus a dense vector near one
    corpus document (that document's embedding, perturbed), so both the
    lexical and the dense arm have real hits. The pool holds ``n_pool`` queries of each kind.
    ``stream`` lists pool indexes in arrival order: the n-th query has
    kind ``KIND_CYCLE[n % 4]`` and is drawn from that kind's pool by a
    Zipf law, so popular queries repeat and work shared across queries
    exists to reuse."""
    rng = _rng(seed, "queries")
    emb = pq.read_table(os.path.join(corpus_dir, "embeddings.parquet"))
    vecs = emb.column("embedding").to_pylist()
    n_pool *= len(QUERY_KINDS)
    topics = _zipf_topics(rng, n_pool)
    extra = _zipf_topics(rng, n_pool)
    pool = []
    for i in range(n_pool):
        terms = [f"k{int(topics[i])}"] + ([f"k{int(extra[i])}"] if rng.random() < 0.4 else [])
        terms += [BASE_WORDS[int(j)] for j in rng.integers(0, len(BASE_WORDS), QUERY_WORDS - len(terms))]
        anchor = int(rng.integers(0, len(vecs)))
        qvec = _perturb(rng, np.asarray(vecs[anchor]), noise=0.5)
        pool.append(
            {
                "kind": QUERY_KINDS[i % len(QUERY_KINDS)],
                "terms": terms,
                "vec": [float(x) for x in qvec],
            }
        )
    per_kind = n_pool // len(QUERY_KINDS)
    ranks = np.arange(1, per_kind + 1, dtype=np.float64)
    p = ranks**-1.0
    picks = rng.choice(per_kind, size=n_stream, p=p / p.sum())
    stream = [
        int(picks[n]) * len(QUERY_KINDS) + QUERY_KINDS.index(KIND_CYCLE[n % len(KIND_CYCLE)])
        for n in range(n_stream)
    ]
    out = {"pool": pool, "stream": stream}
    with open(out_path, "w") as f:
        json.dump(out, f, sort_keys=True)
    return out


def make_changes(
    out_dir: str,
    seed: int,
    corpus_dir: str,
    n_batches: int,
    batch_docs: int,
    stale_frac: float = 0.2,
    near_dup_frac: float = 0.1,
) -> dict:
    """Write ``n_batches`` change micro-batches ``batch_000.parquet`` …
    of full-row images (doc_id, text, embedding, seq, op) for
    ``stream_maintenance``. Each batch holds ``batch_docs`` new ids
    (id-disjoint from the corpus and from every other batch — the
    append-only IVF contract), a ``near_dup_frac`` share of them near
    duplicates of a corpus document, and for a ``stale_frac`` share a
    stale re-crawl row with a lower ``seq`` whose text carries
    ``STALE_MARK``."""
    rng = _rng(seed, "changes")
    docs = pq.read_table(os.path.join(corpus_dir, "documents.parquet"))
    corpus_text = docs.column("text").to_pylist()
    corpus_vec = pq.read_table(
        os.path.join(corpus_dir, "embeddings.parquet")
    ).column("embedding").to_pylist()
    next_id = len(corpus_text)
    batches, total_bytes = [], 0
    for b in range(n_batches):
        ids = list(range(next_id, next_id + batch_docs))
        next_id += batch_docs
        topics = _zipf_topics(rng, batch_docs)
        vecs = _topic_vectors(seed, rng, topics)
        near = rng.random(batch_docs) < near_dup_frac
        stale = rng.random(batch_docs) < stale_frac
        rows = {k: [] for k in CHANGE_SCHEMA.names}
        near_pairs = []
        for j, doc_id in enumerate(ids):
            if near[j]:
                src = int(rng.integers(0, len(corpus_text)))
                words = corpus_text[src].split()
                words[int(rng.integers(0, len(words)))] = BASE_WORDS[
                    int(rng.integers(0, len(BASE_WORDS)))
                ]
                text = " ".join(words)
                vec = _perturb(rng, np.asarray(corpus_vec[src]), noise=0.1)
                near_pairs.append([doc_id, src])
            else:
                text = _doc_text(rng, [int(topics[j])])
                vec = vecs[j]
            _rows_add(rows, doc_id, text, vec, 1)
            if stale[j]:
                _rows_add(rows, doc_id, f"{text} {STALE_MARK}", vec, 0)
        path = os.path.join(out_dir, f"batch_{b:03d}.parquet")
        size = _write(pa.table(rows, schema=CHANGE_SCHEMA), path)
        total_bytes += size
        batches.append(
            {
                "path": os.path.basename(path),
                "bytes": size,
                "ids": [ids[0], ids[-1]],
                "n_stale": int(stale.sum()),
                "near_dup_pairs": near_pairs,
            }
        )
    manifest = {"seed": seed, "batches": batches, "bytes": total_bytes}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def _rows_add(rows: dict, doc_id: int, text: str, vec, seq: int) -> None:
    rows["doc_id"].append(int(doc_id))
    rows["text"].append(text)
    rows["embedding"].append([float(x) for x in vec])
    rows["seq"].append(seq)
    rows["op"].append("U")
