"""The benchmark workloads and their correctness gates.

Every program call goes through the package's public modules, looked up
at call time (``text.bm25_query(...)``), so the traced run's wrappers
see them. Each workload returns an :class:`Outcome`; ``run.py`` turns
it into the result line.

Every workload reports the same end-to-end metrics; what a set-up
build and an "op" are depends on the workload (see METRICS.md):

* ``rag_serve``: set-up build = one complete GraphRAG build; op = query
  = one RAG query from a closed-loop client.
* ``rag_refresh``: set-up build = the maintenance state's initial
  build; op = one change batch, from landing to readable; query = one
  query of the concurrent reader on the newest state.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import gen
from spans import force

PKG = "graphragpart1datapipeline_spark"

# sizes per scale; "tiny" is the smoke test's, "full" the benchmark's
SIZES = {
    "full": {
        "serve_docs": 2000,
        "refresh_docs": 1000,
        "batch_docs": 100,
        "n_batches": 4,
        "query_pool": 60,
    },
    "tiny": {
        "serve_docs": 300,
        "refresh_docs": 200,
        "batch_docs": 20,
        "n_batches": 3,
        "query_pool": 8,
    },
}
N_CENTROIDS = 16
NPROBE = 8  # of N_CENTROIDS: probe half the clusters
K = 10
CLIENTS = 2  # closed-loop serving clients
RECALL_QUERIES = 10
BM25_TABLES = ("postings", "dl", "dfreq", "params")
NEAR_DUP_THRESHOLD = 0.9
# the day-0 corpus holds the centroids themselves (score 1.0), which
# lifts the build baseline the IVF drift gate compares batches against
DRIFT_FRAC = 0.5


@dataclass
class Outcome:
    """What one workload run measured."""

    build_s: float = 0.0  # the set-up build, once per run
    op_ms: list[float] = field(default_factory=list)
    query_ms: list[float] = field(default_factory=list)
    # traced run only: whether each query_ms sample was traced
    query_traced: list[bool] = field(default_factory=list)
    timed_s: float = 0.0
    concurrency: int = 1  # closed-loop callers issuing ops
    recall: list[float] = field(default_factory=list)
    bytes_written: int = 0
    input_bytes: int = 0
    state_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    gates: dict = field(default_factory=dict)
    ratios: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    phases_s: dict = field(default_factory=dict)

    def record_checks(self, bad_rows: dict) -> None:
        """One gate per named check; a gate holds when it found no bad
        rows. Each gate is an attempted op, a failed one a failed op."""
        for name, n in bad_rows.items():
            self.attempted += 1
            self.failed += 1 if n else 0
            self.gates[name] = {"ok": not n, **({"bad_rows": n} if n else {})}


class Ctx:
    """One run: the session, its work directory and the optional tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, sizes):
        from importlib import import_module

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.sizes = sizes
        self.sample = None  # set by run.py: RSS sampler of the timed part
        for mod in ("sources", "text", "streaming"):
            setattr(self, mod, import_module(f"{PKG}.{mod}"))
        self.vector = import_module(f"{PKG}.vector.search")
        self.demo = import_module(f"{PKG}.plans.graphrag_demo")
        self.relational = import_module(f"{PKG}.operators.relational")

    def span(self, name: str, op: int | None = None):
        return self.tracer.span(name, op) if self.tracer else nullcontext()

    def tracing(self, flag: bool):
        return self.tracer.enabled(flag) if self.tracer else nullcontext()

    def untraced(self, fn):
        with self.tracing(False):
            return fn()

    def traced_op(self, i: int) -> bool:
        """Traced run: ops alternate between traced and untraced in runs
        of one query-kind cycle (so both sides see the same mix), and the
        run measures its own tracing overhead."""
        return self.tracer is not None and (i // len(gen.KIND_CYCLE)) % 2 == 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# -- helpers ---------------------------------------------------------------


def du(path: str) -> int:
    """Bytes of regular files under ``path`` (Spark's .crc files too —
    they are written, so they count)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _ranked(df, id_col: str):
    """(id, rank) by score desc, id asc — what rrf_fuse consumes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return df.withColumn("rank", F.row_number().over(w).cast("long")).select(
        F.col(id_col).alias("id"), "rank"
    )


def _centroids(emb, id_col: str):
    """The first ``N_CENTROIDS`` vectors by id, as the (cid, embedding)
    coarse quantizer."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    first = emb.orderBy(id_col).limit(N_CENTROIDS)
    return first.select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).cast("long").alias("cid"),
        "embedding",
    )


def _rows(df, cols) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]


def embed_texts(ctx: Ctx, texts: list[str]) -> list[list[float]]:
    """Query embedding with the corpus' own encoder (``hash_embed``)."""
    if not texts:
        return []
    with ctx.span("vector.hash_embed"):
        df = ctx.spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
        rows = df.select("i", ctx.vector.hash_embed("text", dim=32).alias("v")).collect()
    return [list(r["v"]) for r in sorted(rows, key=lambda r: r["i"])]


def hybrid_topk(ctx: Ctx, bm25, emb, assign, cents, terms, qvec, id_col: str, k: int = K):
    """BM25 ⊕ IVF fused by RRF (the served answer, q185's retrieval
    head). Returns the fused frame (id, rank_1, rank_2, rrf_score)."""
    T, V = ctx.text, ctx.vector
    lex = T.bm25_query(bm25, terms, k=2 * k, id_col=id_col)
    dense = V.ivf_topk(
        emb, qvec, cents, k=2 * k, id_col=id_col, nprobe=NPROBE, assignments=assign
    )
    return V.rrf_fuse([_ranked(lex, id_col), _ranked(dense, id_col)], k=k)


def concurrently(ctx: Ctx, *calls) -> list:
    """Run zero-argument calls on threads, untraced, and return their
    results in order; an exception in any call propagates. The untimed
    checks are many small Spark jobs, which overlap well."""
    with ThreadPoolExecutor(len(calls)) as ex:
        futures = [ex.submit(ctx.untraced, call) for call in calls]
        return [f.result() for f in futures]


def dense_recall(ctx: Ctx, emb, assign, cents, id_col: str, queries: list) -> list[float]:
    """Recall@10 of the served IVF answer against exact ``cosine_topk``
    over the same vectors, per (served ids or None, query vector). None
    serves the query now, with the serving call on the serving state.
    The lexical arm needs no recall (the BM25 gates hold it exact), so
    the dense arm is a fused answer's only approximation. The queries
    run on a few threads: each is a couple of top-k-sized jobs."""
    V = ctx.vector

    def one(item) -> float:
        ids, vec = item
        if ids is None:
            top = V.ivf_topk(emb, vec, cents, k=K, id_col=id_col, nprobe=NPROBE, assignments=assign)
            ids = [r[0] for r in _rows(top, [id_col])]
        exact = [r[0] for r in _rows(V.cosine_topk(emb, vec, k=K, id_col=id_col), [id_col])]
        return len(set(ids) & set(exact)) / max(1, len(exact))

    return concurrently(ctx, *[lambda q=q: one(q) for q in queries]) if queries else []


def bm25_matches_one_shot(ctx: Ctx, index, corpus, terms, id_col: str) -> bool:
    """Gate: serving BM25 from the index equals the one-shot scan."""
    from graphragpart1datapipeline_spark.text.analysis import bm25_topk

    cols = [id_col, "score", "rank"]
    served = _rows(ctx.text.bm25_query(index, terms, k=2 * K, id_col=id_col), cols)
    once = _rows(bm25_topk(corpus, terms, text_col="text", id_col=id_col, k=2 * K), cols)
    return sorted(served) == sorted(once)


# -- rag_serve ---------------------------------------------------------------


def _wrap_stages(ctx: Ctx, pipeline) -> None:
    """Traced run: one span per Pipeline stage, its output forced inside.
    The chunk_embeddings stage is hash_embed applied to every chunk, so
    its forced output is the ``vector.hash_embed`` span."""
    for st in pipeline.stages:
        fn = st.fn

        def traced(spark, *deps, _fn=fn, _name=st.name):
            with ctx.span(f"plans.stage.{_name}"):
                out = _fn(spark, *deps)
                if _name == "chunk_embeddings":
                    with ctx.span("vector.hash_embed"):
                        return force(out)
                return force(out)

        st.fn = traced


def build_graphrag(ctx: Ctx, corpus_dir: str, out: str) -> None:
    """One complete GraphRAG build, every artifact persisted under
    ``out``: the graphrag_demo asset DAG (dedup, sections, chunks,
    chunk embeddings, graph, communities, summaries), the summaries
    hash-embedded for search, and BM25 and IVF indexes over the chunks."""
    spark, T, V = ctx.spark, ctx.text, ctx.vector
    p = ctx.demo.build_graphrag_pipeline(corpus_dir, checkpoint_dir=f"{out}/ckpt")
    if ctx.tracer:
        _wrap_stages(ctx, p)
    with ctx.span("plans.Pipeline.run"):
        res = p.run(spark)
    for name in ("deduped", "chunk_embeddings", "communities"):
        res[name].write.mode("overwrite").parquet(f"{out}/{name}")
    res["search_demo"].collect()
    with ctx.span("vector.hash_embed"):
        res["community_summaries"].select(
            "community", "name", "summary", V.hash_embed("summary", dim=32).alias("embedding")
        ).write.mode("overwrite").parquet(f"{out}/summaries")
    index = T.bm25_index(res["chunks"].select("chunk_id", "text"), text_col="text", id_col="chunk_id")
    for key, df in index.items():
        df.write.mode("overwrite").parquet(f"{out}/bm25/{key}")
    emb = spark.read.parquet(f"{out}/chunk_embeddings")
    V.ivf_build_index(emb, _centroids(emb, "chunk_id"), f"{out}/ivf", id_col="chunk_id")


def open_serving(ctx: Ctx, out: str) -> dict:
    """The serving state: the persisted build, read back."""
    spark = ctx.spark
    return {
        "bm25": {k: spark.read.parquet(f"{out}/bm25/{k}") for k in BM25_TABLES},
        "emb": spark.read.parquet(f"{out}/chunk_embeddings").select("chunk_id", "embedding"),
        "assign": spark.read.parquet(f"{out}/ivf"),
        "cents": ctx.vector.ivf_centroids(spark, f"{out}/ivf"),
        "chunks": spark.read.parquet(f"{out}/ckpt/chunks").select("chunk_id", "text"),
        "docs": spark.read.parquet(f"{out}/deduped").select("doc_id", "text"),
        "summaries": spark.read.parquet(f"{out}/summaries"),
    }


def serve_query(ctx: Ctx, st: dict, q: dict, op: int) -> tuple[list, list]:
    """One RAG query of the pool's kind: embed the query text, then
    dense top-k, community-summary top-k, or the hybrid answer with
    stitched passages (q185's serving DAG). Returns (answer ids, query
    vector)."""
    T, V = ctx.text, ctx.vector
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    with ctx.span(f"serve.{q['kind']}", op):
        (vec,) = embed_texts(ctx, [" ".join(q["terms"])])
        if q["kind"] == "dense":
            top = V.ivf_topk(st["emb"], vec, st["cents"], k=K, id_col="chunk_id",
                             nprobe=NPROBE, assignments=st["assign"])
            return [r[0] for r in _rows(top, ["chunk_id"])], vec
        if q["kind"] == "community":
            top = V.cosine_topk(st["summaries"], vec, k=5, id_col="community")
            return [r[0] for r in _rows(top, ["community"])], vec
        fused = force(hybrid_topk(ctx, st["bm25"], st["emb"], st["assign"], st["cents"],
                                  q["terms"], vec, "chunk_id"))
        fused = fused.withColumn("doc_id", F.split("id", "_").getItem(0).cast("long"))
        # passage stitching over the fused chunks' documents only
        chunks = T.fixed_stride_chunks(
            st["docs"].join(F.broadcast(fused.select("doc_id").distinct()), "doc_id"),
            id_col="doc_id", text_col="text", chunk_tokens=32, overlap_tokens=8,
        )
        terms = sorted({t.lower() for t in q["terms"]})
        hits = chunks.select(
            "doc_id", "chunk_index",
            F.size(F.filter(F.split("chunk", " "), lambda t: F.lower(t).isin(terms))).alias("hits"),
        )
        w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("chunk_index"))
        best = hits.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select("doc_id", "chunk_index")
        passages = T.stitch_context(chunks, best, overlap_tokens=8, context=1, id_col="doc_id",
                                    idx_col="chunk_index", text_col="chunk")
        answer = fused.join(passages, "doc_id", "left").orderBy(F.desc("rrf_score"), "id")
        return [r[0] for r in _rows(answer, ["id", "stitched"])], vec


def run_rag_serve(ctx: Ctx) -> Outcome:
    sz, o = ctx.sizes, Outcome()
    corpus = ctx.path("input", "corpus")
    manifest = gen.make_corpus(corpus, ctx.seed, sz["serve_docs"])
    pool = gen.make_queries(ctx.path("input", "queries.json"), ctx.seed, corpus, sz["query_pool"], 20_000)
    o.input_bytes = os.path.getsize(f"{corpus}/documents.parquet")

    out = ctx.path("build")
    t = time.perf_counter()
    build_graphrag(ctx, corpus, out)
    o.build_s = time.perf_counter() - t
    o.bytes_written = o.state_bytes = du(out)
    st = open_serving(ctx, out)
    t = time.perf_counter()
    # one query of each kind, at once, before timing (first plans of
    # each shape); a failure counts as a failed op
    firsts = [next(q for q in pool["pool"] if q["kind"] == kind) for kind in gen.QUERY_KINDS]
    with ThreadPoolExecutor(len(firsts)) as ex:
        for q, fut in [(q, ex.submit(serve_query, ctx, st, q, -1)) for q in firsts]:
            o.attempted += 1
            try:
                fut.result()
            except Exception as e:  # noqa: BLE001 - recorded as a failed op
                o.failed += 1
                o.errors.append(f"warm-up {q['kind']}: {e!r}"[:500])
    o.phases_s["warm_up"] = time.perf_counter() - t

    lock, cursor, served = threading.Lock(), enumerate(pool["stream"]), []

    def client() -> None:
        while time.perf_counter() - t0 < ctx.seconds:
            with lock:
                n, qi = next(cursor)
            t = time.perf_counter()
            try:
                with ctx.tracing(ctx.traced_op(n)):
                    ids, vec = serve_query(ctx, st, pool["pool"][qi], op=n)
                ok = True
            except Exception as e:  # a failed query is a failed op
                ok = False
                with lock:
                    o.errors.append(f"query {qi}: {e!r}"[:500])
            ms = (time.perf_counter() - t) * 1000.0
            with lock:
                o.attempted += 1
                if ok:
                    o.op_ms.append(ms)
                    o.query_traced.append(ctx.traced_op(n))
                    served.append((qi, ids, vec))
                else:
                    o.failed += 1

    ctx.sample.start()
    o.concurrency = CLIENTS
    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    o.timed_s = time.perf_counter() - t0
    ctx.sample.stop()
    o.query_ms = list(o.op_ms)
    t = time.perf_counter()
    build, bm25, recall = concurrently(
        ctx,
        lambda: _build_checks(ctx, manifest, corpus, out),
        lambda: _bm25_checks(ctx, st, pool, served),
        lambda: _serve_recall(ctx, st, pool, served),
    )
    o.ratios["dedup.exact_dedup.removed_per_planted"] = build.pop("removed") / max(1, manifest["n_exact_dups"])
    o.record_checks({**build, **bm25})
    o.recall += recall
    if ctx.tracer:
        with ctx.tracing(False):
            _serve_ratios(ctx, st, pool, served, o)
    o.phases_s["gates"] = time.perf_counter() - t
    o.detail.update(
        docs=sz["serve_docs"],
        planted_dups=manifest["n_exact_dups"],
        queries=len(o.op_ms),
        distinct_queries=len({s[0] for s in served}),
        by_kind={k: sum(1 for s in served if pool["pool"][s[0]]["kind"] == k) for k in gen.QUERY_KINDS},
    )
    return o


def _build_checks(ctx: Ctx, manifest: dict, corpus: str, out: str) -> dict:
    """The build removed exactly the planted duplicates and gave every
    document one community per resolution. Returns bad-row counts per
    gate, plus ``removed`` (documents dropped), from one Spark job."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    docs = spark.read.parquet(f"{corpus}/documents.parquet").select("doc_id")
    deduped = spark.read.parquet(f"{out}/deduped").select("doc_id")
    removed = docs.subtract(deduped)
    planted = spark.createDataFrame([(i,) for i in manifest["dup_ids"]], "doc_id long")
    comm = (
        spark.read.parquet(f"{out}/communities")
        .filter(F.col("id").startswith("d"))
        .select(F.expr("substring(id, 2)").cast("long").alias("doc_id"), "community_L0", "community_L1")
    )
    per_doc = comm.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.count("community_L0").alias("l0"), F.count("community_L1").alias("l1")
    )
    names = ("removed", "exact_dedup_removes_planted", "one_community_per_resolution")
    found = _count_rows({
        "removed": removed,
        "exact_dedup_removes_planted": _sym_diff(removed, planted),
        "one_community_per_resolution": per_doc.filter("n != 1 OR l0 != 1 OR l1 != 1").select("doc_id")
        .unionByName(_sym_diff(per_doc.select("doc_id"), deduped)),
    })
    return {name: found.get(name, 0) for name in names}


def _bm25_checks(ctx: Ctx, st: dict, pool: dict, served: list) -> dict:
    """The most served hybrid query's BM25 arm equals the one-shot scan."""
    counts: dict[int, int] = {}
    for qi, _, _ in served:
        if pool["pool"][qi]["kind"] == "hybrid":
            counts[qi] = counts.get(qi, 0) + 1
    if not counts:
        return {}
    qi = min(counts, key=lambda q: (-counts[q], q))
    ok = bm25_matches_one_shot(ctx, st["bm25"], st["chunks"], pool["pool"][qi]["terms"], "chunk_id")
    return {f"served_bm25_equals_one_shot[{qi}]": 0 if ok else 1}


def _serve_recall(ctx: Ctx, st: dict, pool: dict, served: list) -> list[float]:
    """Recall@10 of the first distinct dense queries of the stream
    (answers served in the loop are reused)."""
    dense = {qi: (ids, vec) for qi, ids, vec in served if pool["pool"][qi]["kind"] == "dense"}
    qis = [qi for qi in dict.fromkeys(pool["stream"]) if pool["pool"][qi]["kind"] == "dense"]
    qis = qis[:RECALL_QUERIES]
    fresh = [qi for qi in qis if qi not in dense]
    vecs = dict(zip(fresh, embed_texts(ctx, [" ".join(pool["pool"][qi]["terms"]) for qi in fresh])))
    return dense_recall(
        ctx, st["emb"], st["assign"], st["cents"], "chunk_id",
        [dense.get(qi, (None, vecs.get(qi))) for qi in qis],
    )


def _serve_ratios(ctx: Ctx, st: dict, pool: dict, served: list, o: Outcome) -> None:
    """Traced run: IVF candidates scored and BM25 postings touched per
    result, over everything served (driver-side, three small collects)."""
    from graphragpart1datapipeline_spark.vector.search import coarse_probe_ids

    sizes = dict(_rows(st["assign"].groupBy("centroid_id").count(), ["centroid_id", "count"]))
    cents = _rows(st["cents"], ["cid", "embedding"])
    dfreq = dict(_rows(st["bm25"]["dfreq"], ["term", "df"]))
    cand = res_ivf = post = res_bm = 0
    for qi, _, vec in served:
        kind = pool["pool"][qi]["kind"]
        if kind in ("dense", "hybrid"):
            cand += sum(sizes.get(c, 0) for c in coarse_probe_ids(cents, vec, NPROBE))
            res_ivf += K if kind == "dense" else 2 * K
        if kind == "hybrid":
            post += sum(dfreq.get(t.lower(), 0) for t in set(pool["pool"][qi]["terms"]))
            res_bm += 2 * K
    o.ratios["vector.ivf_topk.candidates_per_result"] = cand / max(1, res_ivf)
    o.ratios["text.bm25_query.postings_per_result"] = post / max(1, res_bm)


# -- rag_refresh ---------------------------------------------------------------


def refresh_setup_once(ctx: Ctx, corpus_dir: str, out: str) -> None:
    spark, S = ctx.spark, ctx.sources
    docs = S.read_table(spark, corpus_dir, "documents").select("doc_id", "text")
    emb = S.read_table(spark, corpus_dir, "embeddings")
    cents = _centroids(emb, "vec_id")
    ctx.streaming.init_maintenance_state(docs, emb, cents, out, threshold=NEAR_DUP_THRESHOLD)


def _vectors(ctx: Ctx, corpus_dir: str, feed_dir: str):
    """Every live vector: corpus plus the newest image of each landed id."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    base = spark.read.parquet(f"{corpus_dir}/embeddings.parquet")
    if not any(n.endswith(".parquet") and not n.startswith(".") for n in os.listdir(feed_dir)):
        return base
    feed = spark.read.parquet(feed_dir).groupBy("doc_id").agg(
        F.max_by("embedding", "seq").alias("embedding")
    )
    return base.unionByName(feed.select(F.col("doc_id").alias("vec_id"), "embedding"))


def refresh_read(ctx: Ctx, work: str, corpus_dir: str, feed_dir: str, q: dict, op: int) -> list:
    """The reader's query on the newest committed state: BM25 ⊕ IVF
    fused by RRF. Returns the answer's ids."""
    with ctx.span("refresh.read", op):
        st = ctx.streaming.read_maintenance_state(ctx.spark, work)
        vecs = _vectors(ctx, corpus_dir, feed_dir).withColumnRenamed("vec_id", "doc_id")
        assign = ctx.spark.read.parquet(st["ivf"]).withColumnRenamed("vec_id", "doc_id")
        fused = hybrid_topk(ctx, st["bm25"], vecs, assign, st["centroids"], q["terms"], q["vec"], "doc_id")
        return [r[0] for r in _rows(fused, ["id"])]


def run_rag_refresh(ctx: Ctx) -> Outcome:
    sz, o, spark = ctx.sizes, Outcome(), ctx.spark
    corpus = ctx.path("input", "corpus")
    gen.make_corpus(corpus, ctx.seed, sz["refresh_docs"], dup_frac=0.0)
    staged = ctx.path("input", "changes")
    changes = gen.make_changes(staged, ctx.seed, corpus, sz["n_batches"], sz["batch_docs"])
    pool = gen.make_queries(ctx.path("input", "queries.json"), ctx.seed, corpus, sz["query_pool"], 20_000)
    work = ctx.path("state")
    t = time.perf_counter()
    refresh_setup_once(ctx, corpus, work)
    o.build_s = time.perf_counter() - t
    feed = ctx.path("feed")
    os.makedirs(feed)
    schema = spark.read.parquet(os.path.join(staged, changes["batches"][0]["path"])).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)
    # no separate warm-up: the reader's first read, cold, runs inside the
    # first fold and is left out of the latency samples
    o.phases_s["warm_up"] = 0.0
    size0 = du(work)

    done = threading.Event()
    landed: list[dict] = []

    def writer() -> None:
        for b, batch in enumerate(changes["batches"]):
            # fold while another fold at the last one's pace still ends
            # inside the run's seconds (at least one)
            if o.op_ms and time.perf_counter() - t0 + o.op_ms[-1] / 1000.0 > ctx.seconds:
                break
            src = os.path.join(staged, batch["path"])
            hidden = os.path.join(feed, "." + batch["path"])
            shutil.copyfile(src, hidden)
            t = time.perf_counter()
            os.rename(hidden, os.path.join(feed, batch["path"]))  # the batch lands
            o.attempted += 1
            try:
                with ctx.tracing(ctx.traced_op(b)), ctx.span("refresh.fold", op=20_000 + b):
                    q = ctx.streaming.stream_maintenance(
                        stream, work, threshold=NEAR_DUP_THRESHOLD,
                        checkpoint_dir=ctx.path("ckpt"), available_now=True, keep_versions=2,
                        drift_frac=DRIFT_FRAC,
                    )
                    q.awaitTermination()
                    ctx.streaming.read_maintenance_state(spark, work)
            except Exception as e:  # a failed fold is a failed op
                o.failed += 1
                o.errors.append(f"fold {b}: {e!r}"[:500])
                break
            o.op_ms.append((time.perf_counter() - t) * 1000.0)
            landed.append(batch)
        done.set()

    def reader() -> None:
        cursor = enumerate(pool["stream"])
        while not done.is_set():
            n, qi = next(cursor)
            t = time.perf_counter()
            o.attempted += 1
            try:
                with ctx.tracing(ctx.traced_op(n)):
                    refresh_read(ctx, work, corpus, feed, pool["pool"][qi], op=n)
            except Exception as e:  # a failed read is a failed op
                o.failed += 1
                o.errors.append(f"read {qi}: {e!r}"[:500])
                continue
            if n:
                o.query_ms.append((time.perf_counter() - t) * 1000.0)
                o.query_traced.append(ctx.traced_op(n))

    ctx.sample.start()
    t0 = time.perf_counter()
    threads = [threading.Thread(target=writer), threading.Thread(target=reader)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    o.timed_s = time.perf_counter() - t0
    ctx.sample.stop()
    o.input_bytes = sum(b["bytes"] for b in landed)
    o.state_bytes = du(work)
    o.bytes_written = max(0, o.state_bytes - size0) + du(ctx.path("ckpt"))
    o.ratios["streaming.bytes_written_per_batch"] = o.bytes_written / max(1, len(landed))
    t = time.perf_counter()
    st = ctx.untraced(lambda: ctx.streaming.read_maintenance_state(spark, work))
    # recall: the reader's dense arm on the final state
    qis = list(dict.fromkeys(pool["stream"]))[:RECALL_QUERIES]
    checks, recall = concurrently(
        ctx,
        lambda: _refresh_checks(ctx, st, corpus, feed),
        lambda: dense_recall(
            ctx, _vectors(ctx, corpus, feed), spark.read.parquet(st["ivf"]), st["centroids"],
            "vec_id", [(None, pool["pool"][qi]["vec"]) for qi in qis],
        ),
    )
    o.record_checks(checks)
    o.recall += recall
    o.phases_s["gates"] = time.perf_counter() - t
    o.detail.update(folds=len(o.op_ms), reads=len(o.query_ms), docs=sz["refresh_docs"],
                    batch_docs=sz["batch_docs"])
    return o


def _refresh_checks(ctx: Ctx, st: dict, corpus: str, feed: str) -> dict:
    """The streamed state ``st`` equals a full rebuild from the final
    corpus (q223's contract: the same program functions the initial
    build calls, over corpus + newest change rows), every live id is
    in the IVF index once, and stale re-crawl text never surfaces.
    Returns bad-row counts per gate, from one Spark job (plus the
    rebuild's connected-components rounds)."""
    from pyspark.sql import functions as F

    from graphragpart1datapipeline_spark.dedup.embedding import embedding_near_dup_pairs
    from graphragpart1datapipeline_spark.graph.communities import connected_components

    spark = ctx.spark
    live = ctx.relational.cdc_live(st["docs"]).select("doc_id", "text")
    latest = spark.read.parquet(feed).groupBy("doc_id").agg(F.max_by("text", "seq").alias("text"))
    truth = spark.read.parquet(f"{corpus}/documents.parquet").select("doc_id", "text").unionByName(latest)
    vecs = _vectors(ctx, corpus, feed)
    cents = _centroids(spark.read.parquet(f"{corpus}/embeddings.parquet"), "vec_id")
    bm25 = ctx.text.bm25_index(truth, text_col="text", id_col="doc_id")
    labels = connected_components(
        embedding_near_dup_pairs(vecs, threshold=NEAR_DUP_THRESHOLD), src="a", dst="b"
    )
    ivf = spark.read.parquet(st["ivf"]).select("vec_id", F.col("centroid_id").cast("long"))
    ivf_rebuilt = ctx.vector.ivf_assignments(vecs, cents).select(
        "vec_id", F.col("centroid_id").cast("long")
    )
    # each check is a frame that must come out empty; all run as one job
    checks = {
        f"{name}_equal_rebuild": _sym_diff(a, b)
        for name, (a, b) in {
            "docs": (live, truth),
            "bm25_postings": (st["bm25"]["postings"], bm25["postings"]),
            "bm25_dl": (st["bm25"]["dl"], bm25["dl"]),
            "bm25_dfreq": (st["bm25"]["dfreq"], bm25["dfreq"]),
            "cc_labels": (st["labels"], labels),
            "ivf": (ivf, ivf_rebuilt),
        }.items()
    }
    checks["ivf_live_ids_once"] = ivf.groupBy("vec_id").count().filter("count > 1").select("vec_id")
    checks["stale_text_never_surfaces"] = live.filter(F.col("text").contains(gen.STALE_MARK)).select(
        "doc_id").unionByName(st["bm25"]["dfreq"].filter(F.col("term") == gen.STALE_MARK).select(
            F.lit(-1).cast("long").alias("doc_id")))
    found = _count_rows(checks)
    return {name: found.get(name, 0) for name in checks}


def _sym_diff(a, b):
    """Rows in one frame and not the other, both ways (multisets)."""
    b = b.select(*a.columns)
    return a.exceptAll(b).unionByName(b.exceptAll(a))


def _count_rows(frames: dict) -> dict:
    """Row count of each named frame, all in one Spark job; empty frames
    get no entry."""
    from functools import reduce

    from pyspark.sql import functions as F

    tagged = [df.select(F.lit(name).alias("check")) for name, df in frames.items()]
    union = reduce(lambda x, y: x.unionByName(y), tagged)
    return dict(_rows(union.groupBy("check").count(), ["check", "count"]))


WORKLOADS = {
    "rag_serve": run_rag_serve,
    "rag_refresh": run_rag_refresh,
}

