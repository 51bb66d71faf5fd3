"""The benchmark's own tests: generator determinism, metric names and
BENCHMARK.json, result-line parsing, tracer arithmetic, and a tiny-input
smoke of each workload that runs every correctness gate.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import math
import os
import re
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import spec  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _generate(out: str, seed: int) -> None:
    corpus = os.path.join(out, "corpus")
    gen.make_corpus(corpus, seed, 400)
    gen.make_queries(os.path.join(out, "queries.json"), seed, corpus, 10, 50)
    gen.make_changes(os.path.join(out, "changes"), seed, corpus, 3, 20)


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, n), root) for d, _, ns in os.walk(root) for n in ns
    )


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _generate(a, 7)
    _generate(b, 7)
    _generate(c, 8)
    assert _files(a) == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert not mismatch and not errors
    assert not filecmp.cmp(
        os.path.join(a, "corpus", "documents.parquet"),
        os.path.join(c, "corpus", "documents.parquet"),
        shallow=False,
    )


def test_generator_plants_what_the_manifests_say(tmp_path):
    import pyarrow.parquet as pq

    corpus = str(tmp_path / "corpus")
    m = gen.make_corpus(corpus, 3, 500)
    docs = pq.read_table(os.path.join(corpus, "documents.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert m["n_exact_dups"] == 10 == len(m["dup_ids"])
    originals = [t for i, t in text.items() if i not in set(m["dup_ids"])]
    assert len(set(originals)) == len(originals)
    for dup, src in zip(m["dup_ids"], m["dup_of"]):
        assert text[dup] == text[src] and src < dup

    ch = gen.make_changes(str(tmp_path / "changes"), 3, corpus, 3, 30)
    seen = set()
    for batch in ch["batches"]:
        rows = pq.read_table(str(tmp_path / "changes" / batch["path"])).to_pylist()
        ids = {r["doc_id"] for r in rows}
        assert not ids & seen and min(ids) >= 500  # id-disjoint batches
        seen |= ids
        stale = [r for r in rows if r["seq"] == 0]
        assert len(stale) == batch["n_stale"]
        assert all(gen.STALE_MARK in r["text"] for r in stale)
        assert not any(gen.STALE_MARK in r["text"] for r in rows if r["seq"] == 1)


def test_query_stream_mix_is_fixed(tmp_path):
    corpus = str(tmp_path / "corpus")
    gen.make_corpus(corpus, 1, 200)
    for seed in (1, 2):
        q = gen.make_queries(str(tmp_path / f"q{seed}.json"), seed, corpus, 10, 40)
        kinds = [q["pool"][i]["kind"] for i in q["stream"]]
        assert kinds == [gen.KIND_CYCLE[n % len(gen.KIND_CYCLE)] for n in range(40)]
        assert len(set(q["stream"])) < len(q["stream"])  # Zipf repeats


def test_metric_names_and_units():
    names = [m.name for m in spec.END_TO_END + spec.PER_LAYER] + [w.name for w in spec.WORKLOADS]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n), n
    for m in spec.END_TO_END + spec.PER_LAYER:
        assert UNIT.match(m.unit), m
        assert m.better in ("lower", "higher"), m


def test_benchmark_json_matches_spec_and_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        raw = f.read()
    bench = json.loads(raw)
    assert bench == spec.benchmark_json()
    assert len(raw.encode()) <= 64 * 1024
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    assert 1 <= len(bench["end_to_end"]) <= 16 and 1 <= len(bench["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    for p in bench["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_.\-/]{1,200}", p) and os.path.isdir(os.path.join(ROOT, p))


def test_every_named_layer_is_traced():
    modules = {"session", "sources", "plans", "dedup", "text", "vector", "graph", "streaming"}
    assert {layer.split(".")[0] for layer in spans.LAYERS} == modules
    for name, (mod, attr) in spans.TRACED.items():
        assert name.split(".")[0] == mod.split(".")[0] and name.endswith("." + attr)


def _span(i, name, parent, start, end, op=None):
    return spans.Span(i, name, parent, op, start, end)


def test_self_time_subtracts_union_of_children():
    sp = [
        _span(1, "a", None, 0.0, 10.0),
        _span(2, "b", 1, 1.0, 4.0),
        _span(3, "c", 1, 3.0, 6.0),  # overlaps b: covered 1..6
        _span(4, "d", 2, 1.5, 2.0),
    ]
    st = spans.self_times(sp)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(3.0)


def test_event_log_attribution(tmp_path):
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "run-uuid", "sql.streaming.queryId": "q-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor Run Time": 250}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1_000_000},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 9}},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    work = spans.read_event_log(str(tmp_path), {"q-1": 5})
    assert work == {
        2: {"spark_jobs": 1, "tasks": 1, "task_s": 1.5, "shuffle_mb": 3.0},
        5: {"spark_jobs": 1, "tasks": 1, "task_s": 0.25, "shuffle_mb": 0.0},
    }
    sp = [_span(1, "text.bm25_query", None, 0.0, 2.0), _span(2, "vector.rrf_fuse", 1, 0.5, 1.0)]
    layers = spans.layer_metrics(sp, work)
    assert layers["text.bm25_query"]["spark_jobs"] == 1  # inclusive of the child
    assert layers["text.bm25_query"]["self_s"] == pytest.approx(1.5)
    assert layers["vector.rrf_fuse"]["shuffle_mb"] == pytest.approx(3.0)


def _outcome(**kw):
    base = dict(
        build_s=20.0, op_ms=[100.0, 300.0, 200.0], query_ms=[50.0, 70.0],
        op_traced=[True, False, True], query_traced=[True, False], timed_s=1.0,
        concurrency=2, recall=[0.9, 1.0], bytes_written=300, input_bytes=100,
        state_bytes=2_000_000, attempted=5, failed=0, ratios={}, phases_s={"warm_up": 1.0},
    )
    base.update(kw)
    return SimpleNamespace(**base)


def test_result_metrics_are_complete_and_numeric():
    e2e = run._end_to_end(_outcome(), session_s=8.0, peak_mb=1024.0)
    assert list(e2e) == [m.name for m in spec.END_TO_END]
    assert e2e["setup_s"]["value"] == pytest.approx(29.0)
    assert e2e["op_p50_ms"]["value"] == pytest.approx(200.0)
    assert e2e["ops_per_s"]["value"] == pytest.approx(10.0)
    assert e2e["write_amp"]["value"] == pytest.approx(3.0)
    assert all(math.isfinite(v["value"]) and v["value"] > 0 for v in e2e.values())

    tracer = spans.Tracer()
    tracer.spans = [_span(1, "serve.dense", None, 0.0, 1.0), _span(2, "vector.ivf_topk", 1, 0.1, 0.9)]
    layer = run._per_layer(_outcome(ratios={"dedup.exact_dedup.removed_per_planted": 1.0}),
                           tracer, "/nonexistent")
    assert list(layer) == [m.name for m in spec.PER_LAYER]
    assert layer["vector.ivf_topk.wall_s"]["value"] == pytest.approx(0.8)
    assert layer["trace.overhead_ms"]["value"] == pytest.approx(50.0 - 70.0)
    json.loads(json.dumps({"correct": True, "attempted": 1, "failed": 0, "metrics": layer}))


@pytest.mark.xfail(strict=True, reason=(
    "known defect: cosine_topk divides by the query vector's norm, so an all-zero "
    "query (hash_embed of a short text whose tokens cancel) raises DIVIDE_BY_ZERO "
    "under ANSI mode; the serving queries are question-length, which makes such a "
    "vector unlikely. Remove the mark when the program guards it."))
def test_zero_query_vector_is_served():
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    from graphragpart1datapipeline_spark.vector.search import cosine_topk

    spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try:
        emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>")
        assert cosine_topk(emb, [0.0, 0.0], k=2).count() == 2
    finally:
        spark.stop()


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rag_serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", [w.name for w in spec.WORKLOADS])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_runs_every_gate(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = _last_json(p.stdout)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = spec.PER_LAYER if trace else spec.END_TO_END
    assert list(res["metrics"]) == [m.name for m in want]
    record = json.loads(p.stdout.strip().splitlines()[-2])["perfbench_record"]
    assert record["gates"] and all(g["ok"] for g in record["gates"].values())
    assert record["env"]["nproc"] >= 1 and "loadavg_after" in record["env"]
