"""Benchmark of the KG-construction pipeline, one workload per call.

    python3 perfbench/run.py --workload dense_graph --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout; the package is imported from
there. The run works in ``.perfbench_work/`` under that root and removes
it when done. Workloads, metrics and the layer each metric tracks are
described in README.md next to this file.

Set-up (``setup_s``) starts Spark at ``local[<nproc>]`` and generates the
workload's corpus from ``--seed``, written as parquet. ``delta_update``
also generates an updated snapshot of the corpus and bootstraps a
workspace from the corpus with ``checkpoint.run_incremental``. Set-up
ends with the timed operation run once, untimed, as warm-up.

``--trace 0`` then times the workload's operation until ``--seconds``
have passed, at least once: a checkpointed build into a fresh workspace
(``dense_graph``) or the incremental update of a copy of the bootstrapped
workspace to the snapshot (``delta_update``). After each, untimed, the
output is checked.

``--trace 1`` runs each layer's public function on materialized inputs
inside a span (``spans.Tracer``), then the checkpointed build, its resume
and the update, and reports the per-layer metrics (layers.py).

Output check: the ``entities`` (id, type, confidence, mention count) and
pre-link ``triples`` (subj, pred, obj) equal ``oracle.build_golden`` of
the corpus (of the snapshot, after an update); every entity is in
exactly one cluster, and every entity with an edge in exactly one
community where communities were built.

Stdout: the per-layer table (``--trace 1``), one JSON line with the
environment record, and as last line the result ``{"correct",
"attempted", "failed", "metrics"}``; ``failed`` counts operations that
raised or failed the check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# the benchmark's Spark session: heap and off-heap pool sized for a
# shared 16 GB host; scratch and JVM temp files stay in the work dir
DRIVER_MEM = "3g"
OFFHEAP = "1g"

# workload -> (corpus generator in gen.py, timed operation)
WORKLOADS = {
    "dense_graph": ("dense_docs", "build"),
    "delta_update": ("bulk_docs", "update"),
}
# dense_graph's PipelineConfig. On a 4-core host a build costs mostly a
# fixed time per Spark job, and a corpus above the default driver-path
# thresholds (10k entities, 100k community edges) takes over a minute to
# build cold; lower thresholds send a 1.7k-entity corpus down the same
# distributed linking and community paths. One local-moving superstep per
# phase instead of up to twenty keeps the traced communities layer short.
DENSE_CONFIG = dict(
    link_small_input_rows=1_000,
    community_small_graph_edges=10_000,
    community_max_iterations=1,
)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def declared_metrics(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def result(values: dict, trace: bool, attempted: int, failed: int, correct: bool) -> dict:
    """The result object; ``values`` must hold exactly the declared metrics."""
    decl = declared_metrics(trace)
    names = [m["name"] for m in decl]
    if sorted(values) != sorted(names):
        missing = sorted(set(names) - set(values))
        extra = sorted(set(values) - set(names))
        raise ValueError(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in decl},
    }


def git_commit() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def environment(spark, cores: int, tmp: str) -> dict:
    import tempfile

    import bench

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    tempfile.tempdir = tmp  # env_fingerprint probes the temp directory
    return {
        "nproc": cores,
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "commit": git_commit(),
        "fingerprint": bench.env_fingerprint(),
    }


class Golden:
    """The oracle's entities and triples of one corpus, computed once."""

    def __init__(self, rows: list[dict]):
        from graphrag_rs_spark.oracle import build_golden

        g = build_golden(rows)
        self.entities = {
            (e["entity_id"], e["entity_type"], round(e["confidence"], 5), e["mention_count"])
            for e in g["entities"]
        }
        self.triples = {(t["subj"], t["pred"], t["obj"]) for t in g["triples"]}


def check_graph(spark, ws: str, golden: Golden, built: bool) -> list[str]:
    """Problems found in workspace ``ws``; empty when the output is right.

    ``built``: the workspace also holds clusters, and communities if it
    has that table."""
    from pyspark.sql import functions as F

    def table(name):
        return spark.read.parquet(os.path.join(ws, name))

    def rows(df):
        return set(df.toPandas().itertuples(index=False, name=None))

    problems = []
    got = {
        (i, t, round(c, 5), n)
        for i, t, c, n in rows(table("entities").select(
            "entity_id", "entity_type", "confidence", "mention_count"))
    }
    if got != golden.entities:
        problems.append(f"entities: {len(got ^ golden.entities)} rows differ from the oracle")
    triples = rows(table("triples").select("subj", "pred", "obj"))
    if triples != golden.triples:
        problems.append(f"triples: {len(triples ^ golden.triples)} rows differ from the oracle")
    if not built:
        return problems

    ids = table("clusters").select("entity_id").toPandas()["entity_id"]
    if not ids.is_unique or set(ids) != {e[0] for e in golden.entities}:
        problems.append("clusters: not every entity is in exactly one cluster")
    if not os.path.exists(os.path.join(ws, "communities")):
        return problems
    members = table("communities").select("entity_id").toPandas()["entity_id"]
    linked = set(
        table("canonical_triples")
        .where(F.col("subj") != F.col("obj"))
        .select(F.explode(F.array("subj", "obj")).alias("id"))
        .distinct()
        .toPandas()["id"]
    )
    if not members.is_unique or set(members) != linked:
        problems.append("communities: not every linked entity is in exactly one community")
    return problems


def setup(args, work: str):
    """Spark session, inputs and, where needed, the bootstrapped workspace."""
    import gen
    from graphrag_rs_spark import checkpoint
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.session import get_spark

    cores = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    log("session started")
    generator, op = WORKLOADS[args.workload]
    docs = getattr(gen, generator)
    config = PipelineConfig(**DENSE_CONFIG if args.workload == "dense_graph" else {})
    rows = docs(args.seed)
    gen.write_source(rows, os.path.join(work, "source"), cores)
    source = spark.read.parquet(os.path.join(work, "source"))
    snapshot = delta = None
    pristine = os.path.join(work, "pristine")
    if op == "update" or args.trace:
        snapshot, _, _ = gen.delta_docs(rows, docs(args.seed + 1), args.seed)
        gen.write_source(snapshot, os.path.join(work, "snapshot"), cores)
        delta = spark.read.parquet(os.path.join(work, "snapshot"))
        checkpoint.run_incremental(source, pristine, config)
    inp = Inputs(spark, cores, config, op, rows, snapshot, source, delta, pristine)
    if not args.trace:
        # warm-up: the timed operation once, untimed, so that the timed one
        # does not pay the JVM's first-use costs (class loading, JIT) for
        # its query plans; they made a first operation 20-90% slower
        warm_ws = os.path.join(work, "warmup")
        getattr(inp, op)(warm_ws)
        shutil.rmtree(warm_ws)
    log(f"set up: {len(rows)} documents")
    return inp


class Inputs:
    """One workload's session, inputs and operations."""

    def __init__(self, spark, cores, config, op, rows, snapshot, source, delta, pristine):
        self.spark, self.cores, self.config, self.op = spark, cores, config, op
        self.rows, self.snapshot = rows, snapshot  # corpus and updated snapshot
        self.source, self.delta = source, delta  # both as parquet-backed frames
        self.pristine = pristine  # workspace bootstrapped from ``source``
        self._goldens = {}

    def build(self, ws: str) -> None:
        from graphrag_rs_spark import checkpoint

        checkpoint.run_checkpointed(self.source, ws, self.config, link=True)

    def update(self, ws: str) -> None:
        """Restore the bootstrapped workspace to ``ws`` and update it to the
        snapshot; the restore is a file copy, under 1% of the time."""
        from graphrag_rs_spark import checkpoint

        shutil.copytree(self.pristine, ws)
        checkpoint.run_incremental(self.delta, ws, self.config)

    def golden(self, op: str) -> Golden:
        if op not in self._goldens:
            self._goldens[op] = Golden(self.rows if op == "build" else self.snapshot)
        return self._goldens[op]

    def check(self, ws: str, op: str) -> list[str]:
        return check_graph(self.spark, ws, self.golden(op), built=op == "build")


def timed_runs(inp: Inputs, seconds: float, work: str):
    """The workload's operation until ``seconds`` have passed, at least
    once; returns the end-to-end metric values, attempted and failed."""
    walls, rates = [], []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while not attempted or time.perf_counter() < deadline:
        ws = os.path.join(work, f"{inp.op}{attempted}")
        attempted += 1
        try:
            t0 = time.perf_counter()
            getattr(inp, inp.op)(ws)  # Inputs.build or Inputs.update
            wall = time.perf_counter() - t0
            problems = inp.check(ws, inp.op)
        except Exception as exc:  # a failed operation is counted, not fatal
            traceback.print_exc()
            problems = [f"raised {exc!r}"]
        if problems:
            failed += 1
            log(f"{inp.op} {attempted} failed: " + "; ".join(problems))
        else:
            log(f"{inp.op} {attempted}: {wall:.2f} s")
            walls.append(wall)
            # the check passed, so the workspace holds the oracle's triples
            rates.append(len(inp.golden(inp.op).triples) / wall)
        shutil.rmtree(ws, ignore_errors=True)
    if not walls:
        raise RuntimeError(f"no {inp.op} succeeded")
    values = {
        "op_s": statistics.median(walls),
        "triples_per_s": statistics.median(rates),
    }
    return values, attempted, failed


def run(args, work: str) -> tuple[dict, dict]:
    t_start = time.perf_counter()
    inp = setup(args, work)
    setup_s = time.perf_counter() - t_start
    try:
        if args.trace:
            import layers

            values, attempted, failed = layers.traced_run(inp, work)
        else:
            values, attempted, failed = timed_runs(inp, args.seconds, work)
            values["setup_s"] = setup_s
        env = environment(inp.spark, inp.cores, os.path.join(work, "tmp"))
    finally:
        stop_spark(inp.spark)
    return result(values, bool(args.trace), attempted, failed, failed == 0), env


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited; the JVM ends when the
    pipe from this process closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "graphrag_rs_spark")):
        print(f"no graphrag_rs_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # on SIGTERM, unwind: stop Spark and remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ.update(
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_OFFHEAP=OFFHEAP,
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]),
    )
    try:
        res, env = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass
    print(json.dumps({"env": env}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
