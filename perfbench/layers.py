"""The traced run: each layer's public function on materialized inputs.

Every layer runs inside one ``spans.Tracer`` span and writes its output
to parquet, which the next layer reads back, so a span holds the Spark
work of its layer only. The counts the metrics need (rows out, candidate
pairs, community edges) run after the span, outside its figures.
"""

from __future__ import annotations

import json
import os
import sys
import time

import spans

# the layers that together do the work of one timed build (which has no
# community detection), run one after another
BUILD_LAYERS = ("ingest", "chunking", "extraction", "relationships", "linking")


def traced_run(inp, work: str):
    """Returns (per-layer metric values, attempted, failed) for ``inp``, the
    workload's ``run.Inputs``."""
    sampler = spans.RssSampler(os.getpid())
    try:
        with sampler.sampling():
            values, failed = _layers(inp, work)
    finally:
        sampler.close()
    values["run.peak_rss_mb"] = sampler.peak_mb
    # the layered build and the update
    return values, 2, failed


def _layers(inp, work: str):
    from pyspark.sql import functions as F

    from graphrag_rs_spark.operators.chunking import chunk_documents
    from graphrag_rs_spark.operators.communities import (
        detect_communities,
        summarize_communities,
        triples_to_edges,
    )
    from graphrag_rs_spark.operators.extraction import extract_mentions, rollup_entities
    from graphrag_rs_spark.operators.ingest import ingest_documents
    from graphrag_rs_spark.operators.linking import (
        candidate_pairs,
        link_entities,
        rewrite_triples,
        score_pairs,
    )
    from graphrag_rs_spark.operators.relationships import extract_triples

    spark, config, source = inp.spark, inp.config, inp.source
    tracer = spans.Tracer(spark, inp.cores)
    rec = tracer.records
    layered_ws = os.path.join(work, "layers")

    def save(df, name):
        path = os.path.join(layered_ws, name)
        df.write.parquet(path)
        return spark.read.parquet(path)

    with tracer.span("ingest"):
        documents = save(ingest_documents(source), "documents")
    rec["ingest"]["rows_out"] = documents.count()

    with tracer.span("chunking"):
        chunks = save(chunk_documents(documents, config), "chunks")
    rec["chunking"]["rows_out"] = chunks.count()
    chunk_mb = chunks.select(F.sum(F.octet_length("content"))).first()[0] / 1e6

    with tracer.span("extraction"):
        mentions = save(extract_mentions(chunks, config), "mentions")
        entities = save(rollup_entities(mentions), "entities")
    rec["extraction"]["rows_out"] = entities.count()

    with tracer.span("relationships"):
        triples = save(extract_triples(mentions, chunks, config), "triples")
    rec["relationships"]["rows_out"] = triples.count()

    with tracer.span("linking"):
        clusters = save(link_entities(entities, config), "clusters")
        canonical = save(rewrite_triples(triples, clusters), "canonical_triples")
    rec["linking"]["rows_out"] = clusters.count()
    scored = save(score_pairs(candidate_pairs(entities), config), "scored_pairs")
    n_pairs = scored.count()
    n_matches = scored.where(F.col("similarity") >= config.link_min_similarity).count()

    with tracer.span("communities"):
        members = save(detect_communities(canonical, config), "communities")
        save(summarize_communities(members, entities, clusters), "community_summaries")
    rec["communities"]["rows_out"] = members.count()
    n_edges = triples_to_edges(canonical).count()

    built_ws = os.path.join(work, "checkpointed")
    with tracer.span("checkpoint"):
        inp.build(built_ws)
    ledger = read_ledger(built_ws)
    rec["checkpoint"]["rows_out"] = sum(r["rows"] for r in ledger)
    t0 = time.perf_counter()
    inp.build(built_ws)
    resume_s = time.perf_counter() - t0

    updated_ws = os.path.join(work, "updated")
    with tracer.span("update"):
        inp.update(updated_ws)
    info = [r for r in read_ledger(updated_ws) if r["stage"] == "incremental"][-1]
    rec["update"]["rows_out"] = spark.read.parquet(os.path.join(updated_ws, "triples")).count()

    # the timed runs check the checkpointed build's output already
    failed = 0
    for ws, kind in ((layered_ws, "build"), (updated_ws, "update")):
        problems = inp.check(ws, kind)
        if problems:
            failed += 1
            print(f"{kind}: " + "; ".join(problems), file=sys.stderr)

    n_entities = rec["extraction"]["rows_out"]
    build_s = rec["checkpoint"]["wall_s"]
    values = {
        f"{layer}.{key}": rec[layer][key] for layer in rec for key, _, _ in spans.GENERIC
    }
    values.update({
        "extraction.mb_per_s": chunk_mb / rec["extraction"]["wall_s"],
        "linking.input_rows": n_entities,
        "linking.above_small_path": int(n_entities > config.link_small_input_rows),
        "linking.candidate_pairs": n_pairs,
        "linking.match_ratio": n_matches / n_pairs if n_pairs else 0.0,
        "communities.edges": n_edges,
        "communities.above_small_path": int(n_edges > config.community_small_graph_edges),
        "checkpoint.resume_s": resume_s,
        "checkpoint.ledger_gap_s": build_s - sum(r["wall_seconds"] for r in ledger),
        "update.changed_docs": info["rows"],
        "update.bucket_rewrite_ratio": (
            info["partition_histogram"]["buckets_rewritten"] / (config.salt_buckets * 4)
        ),
        # the layers run one by one and fully materialized, against the
        # same build in one call
        "trace.overhead_s": sum(rec[n]["wall_s"] for n in BUILD_LAYERS) - build_s,
        "run.scratch_mb_left": spans.dir_mb(os.environ["SPARK_GRAFT_LOCAL_DIR"]),
    })
    print_table(rec, values, config)
    return values, failed


def read_ledger(ws: str) -> list[dict]:
    from graphrag_rs_spark.checkpoint import LEDGER

    with open(os.path.join(ws, LEDGER)) as f:
        return [json.loads(line) for line in f]


def print_table(rec: dict, values: dict, config) -> None:
    keys = [key for key, _, _ in spans.GENERIC]
    print("layer".ljust(14) + "".join(k.rjust(17) for k in keys))
    for layer, r in rec.items():
        print(layer.ljust(14) + "".join(f"{r[k]:17.3f}" for k in keys))
    print(
        f"linking input {values['linking.input_rows']} entities: "
        f"{'above' if values['linking.above_small_path'] else 'at or below'} "
        f"link_small_input_rows={config.link_small_input_rows}"
    )
    print(
        f"communities input {values['communities.edges']} edges: "
        f"{'above' if values['communities.above_small_path'] else 'at or below'} "
        f"community_small_graph_edges={config.community_small_graph_edges}"
    )
    for name in sorted(values):
        if not name.split(".", 1)[1] in keys:
            print(f"{name} = {values[name]:.4f}")
