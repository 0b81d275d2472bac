"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q

They need no Spark session: the oracle pipeline stands in for the
distributed one where sizes are checked.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from graphrag_rs_spark.config import DEFAULT_CONFIG, PipelineConfig  # noqa: E402
from graphrag_rs_spark.oracle import build_golden  # noqa: E402


@pytest.mark.parametrize("docs", [gen.bulk_docs, gen.dense_docs])
def test_generator_is_deterministic_per_seed_and_differs_across_seeds(docs):
    assert docs(1) == docs(1)
    assert docs(1) != docs(2)
    assert len(docs(1)) == len(docs(2))
    snap = gen.delta_docs(docs(1), docs(2), 1)
    assert snap == gen.delta_docs(docs(1), docs(2), 1)
    assert snap[0] != gen.delta_docs(docs(1), docs(2), 2)[0]


def test_delta_changes_and_deletes_documents():
    base = gen.bulk_docs(1)
    rows, n_changed, n_deleted = gen.delta_docs(base, gen.bulk_docs(2), 1)
    assert n_changed >= 1 and n_deleted >= 1
    assert len(rows) == len(base) - n_deleted
    before = {(r["repo"], r["path"]): r["content"] for r in base}
    changed = [r for r in rows if before[(r["repo"], r["path"])] != r["content"]]
    assert len(changed) == n_changed


def _symmetric_edges(golden: dict, canonical) -> int:
    """Edges of the community input: distinct unordered entity pairs of
    the triples, after ``canonical`` maps each entity id to its cluster,
    counted in both directions."""
    pairs = set()
    for t in golden["triples"]:
        a, b = canonical(t["subj"]), canonical(t["obj"])
        if a != b:
            pairs.add((min(a, b), max(a, b)))
    return 2 * len(pairs)


DENSE_CONFIG = PipelineConfig(**run.DENSE_CONFIG)


@pytest.mark.parametrize("seed", [1, 2])
def test_dense_graph_lands_above_both_thresholds(seed):
    golden = build_golden(gen.dense_docs(seed))
    assert len(golden["entities"]) > DENSE_CONFIG.link_small_input_rows
    # the linker merges each one-edit variant into its base name; map
    # both spellings to one id, the way a perfect linker would
    group = {
        spelling: spellings[0]
        for spellings in gen.person_vocabulary(seed)
        for spelling in spellings
    }
    name = {e["entity_id"]: e["name"] for e in golden["entities"]}
    edges = _symmetric_edges(golden, lambda i: group.get(name[i], name[i]))
    # margin for the few extra merges of near-identical base names
    assert edges > 1.5 * DENSE_CONFIG.community_small_graph_edges


@pytest.mark.parametrize("seed", [1, 2])
def test_bulk_corpus_lands_below_both_thresholds(seed):
    golden = build_golden(gen.bulk_docs(seed))
    assert len(golden["entities"]) <= DEFAULT_CONFIG.link_small_input_rows
    # linking only merges entities, so unlinked ids bound the edges above
    assert _symmetric_edges(golden, lambda i: i) <= DEFAULT_CONFIG.community_small_graph_edges


def _declared(key: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[key]


@pytest.mark.parametrize("trace", [False, True])
def test_every_declared_metric_is_printed_with_its_unit(trace):
    decl = _declared("per_layer" if trace else "end_to_end")
    res = run.result({m["name"]: 1.5 for m in decl}, trace, 2, 0, True)
    assert list(res) == ["correct", "attempted", "failed", "metrics"]
    assert res["metrics"] == {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in decl}
    assert json.loads(json.dumps(res)) == res
    with pytest.raises(ValueError, match="missing"):
        run.result({m["name"]: 1.5 for m in decl[1:]}, trace, 2, 0, True)


def test_every_layer_has_the_generic_span_metrics():
    names = {m["name"] for m in _declared("per_layer")}
    for layer in ("ingest", "chunking", "extraction", "relationships", "linking",
                  "communities", "checkpoint", "update"):
        for key, _, _ in spans.GENERIC:
            assert f"{layer}.{key}" in names


def test_span_leaves_out_skipped_stages(tmp_path):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp_path))
        .getOrCreate()
    )
    try:
        counts = (
            spark.sparkContext.parallelize(range(100), 4)
            .map(lambda x: (x % 10, 1))
            .reduceByKey(lambda a, b: a + b, 2)
        )
        tracer = spans.Tracer(spark, 2)
        with tracer.span("two_jobs"):
            counts.count()
            counts.collect()  # reuses the shuffle output: its map stage is skipped
        rec = tracer.records["two_jobs"]
    finally:
        spark.stop()
    assert rec["jobs"] == 2
    assert rec["stages"] == 3
    assert rec["tasks"] == 4 + 2 + 2


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dense_graph",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""
