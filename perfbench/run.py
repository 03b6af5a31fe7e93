"""Seeded, layered benchmark of the dedup engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload fresh_distinct --seed 1 \\
        --seconds 16 --trace 0

Workloads (each a closed loop with one client: one operation at a time;
a run launches the Spark JVM once, sets up ``SETUP_REPEATS`` times, runs
one first (cold) operation and then ``n_operations(--seconds)`` timed
operations; every operation's output is checked):

- ``fresh_distinct``: one operation is a fresh ``DedupPipeline.run``
  with the default ``DedupConfig`` (LSH candidates, disk checkpoints)
  over a planted-family corpus of almost all distinct content. At its
  1,084 docs the fingerprint UDF (``signatures``) is the largest of the
  nine checkpointed stages, about a fifth of a run; each of the others
  costs a Spark job and a checkpoint write.
- ``catalog_mix``: one operation is one pass over a fixed list of
  catalog queries (``QUERIES``) on generated testdata-shaped tables, in
  an order the seed shuffles.

End-to-end metrics: ``setup_s`` (median set-up: a new Spark session on
the running JVM plus the seeded inputs written and opened),
``op_s_p50`` (median timed operation), ``cold_start_s`` (JVM launch plus
the first operation) and ``geomean_step_s`` (see ``geomean_step_s``).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of spans set around
the program's public calls (see ``spans.py``), and untraced operations
alternate with traced ones so the tracing overhead is measured in the
same run; the layers a workload does not reach (pipeline stages, or
catalog queries) are traced on one operation of the other workload, run
afterwards on the same seed. A report line with the pinned host
configuration, per operation wall times, load averages and check
results precedes it.

Everything the run reads or writes lives under ``.perfbench_work/`` in
the checkout, and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "imageduplicatefinder_spark"
#: set-up repetitions per run; ``setup_s`` is their median
SETUP_REPEATS = 5
#: timed operations per run at least; ``op_s_p50`` is their median
MIN_OPERATIONS = 2
#: pipeline stages, in run order (LSH candidates)
STAGES = ("documents_hashed", "signatures", "band_stats", "bands",
          "candidates", "edges", "components", "clusters", "plan")
#: stages a crash right after ``bands`` loses
RESUME_LOST = ("candidates", "edges", "components", "clusters", "plan")
STAGE_SUFFIXES = ("s", "rows", "task_s", "shuffle_bytes", "spill_bytes",
                  "util")
#: catalog queries of the ``catalog_mix`` pass: the Hamming chunk-LSH
#: kernel (operators/hamming_lsh.py), the blocked cosine kernel
#: (operators/similarity.py), and the widened document loads and
#: relational join behind the slow catalog leaves. Every one has a
#: DuckDB oracle the pass is checked against.
CATALOG_QUERIES = (
    "simhash_hamming_pairs", "duplicate_ngram_coverage",
    "delta_dedup_new_vs_base", "top_orders_by_revenue",
    "embedding_near_dup_pairs",
)
QUERY_SUFFIXES = ("s", "rows", "shuffle_bytes")
END_TO_END_UNITS = {
    "setup_s": "s", "op_s_p50": "s", "cold_start_s": "s",
    "geomean_step_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for st in STAGES:
        for suf in STAGE_SUFFIXES:
            units[f"stage.{st}.{suf}"] = {
                "rows": "count", "shuffle_bytes": "B", "spill_bytes": "B",
                "util": "ratio"}.get(suf, "s")
    units["stage.signatures.python_s"] = "s"
    units.update({
        "verify.yield": "ratio",
        "ckpt.bytes_written": "B",
        "ckpt.bytes_per_input_byte": "ratio",
        "ckpt.read_s": "s",
        "ckpt.reused_stages": "count",
        "resume.s": "s",
        "pipeline.unattributed_s": "s",
        "funnel.reps_per_doc": "ratio",
        "check.pair_recall": "ratio",
    })
    for q in CATALOG_QUERIES:
        for suf in QUERY_SUFFIXES:
            units[f"query.{q}.{suf}"] = {"rows": "count",
                                         "shuffle_bytes": "B"}.get(suf, "s")
    units["trace.overhead_s"] = "s"
    # resident memory follows the collector's heap sizing, which swung
    # by a third between identical runs: reported, but not bounded
    units["jvm.peak_rss_mb"] = "MB"
    return units


def n_operations(seconds: float, nominal_op_s: float) -> int:
    """How many operations fill ``seconds`` at the workload's nominal
    operation time (at least ``MIN_OPERATIONS``). The count, not a
    deadline, ends the loop: with operations this close to the window, a
    deadline would take one run's median over two operations and the
    next run's over three, and on a warming JVM an operation's position
    in the run moves its time as much as host noise does."""
    return max(MIN_OPERATIONS, int(seconds // nominal_op_s))


def metric_block(values: dict[str, float], trace: bool) -> dict:
    """The ``metrics`` object of the result line: each value with its
    unit, end-to-end names untraced and per-layer names traced."""
    units = per_layer_units() if trace else END_TO_END_UNITS
    return {k: {"value": values[k], "unit": units[k]} for k in units}


class Host:
    """The pinned host configuration; recorded in the report."""

    def __init__(self, work: Path) -> None:
        self.cores = len(os.sched_getaffinity(0))
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        # a quarter of physical RAM, at most 4 GiB: the inputs are small
        heap_mb = min(4096, ram // (4 << 20))
        self.heap = f"{heap_mb}m"
        self.work = work
        self.local_dir = work / "spark-local"
        self.tmp = work / "tmp"
        for d in (self.local_dir, self.tmp):
            d.mkdir(parents=True, exist_ok=True)
        # read by the JVM launch, the Python workers and the program
        os.environ["SPARK_LOCAL_DIRS"] = str(self.local_dir)
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)

    def start_session(self):
        from imageduplicatefinder_spark.session import get_spark

        return get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": self.heap,
                # no hsperfdata file in the system /tmp
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )

    def describe(self) -> dict:
        return {
            "master": f"local[{self.cores}]",
            "shuffle_partitions": self.cores,
            "driver_heap": self.heap,
            "spark_local_dirs": os.path.relpath(self.local_dir, ROOT),
            "pythonpath": "<checkout root>",
            "checkpoint_durability": "disk (zstd parquet per stage)",
            "checkpoint_note": "checkpoint IO latency is the host page "
                               "cache's, not a storage device's",
        }


def jvm_peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the Spark driver JVM (the gateway
    process PySpark launched)."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from the JVM's /proc status")


def stop_spark(spark) -> None:
    """Stop the session and the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean_step_s(steps: dict[str, list[float]]) -> float:
    """Geometric mean, over an operation's steps, of each step's median
    wall time, so that no single slow step drowns out the others."""
    if not steps:
        return 0.0
    return math.exp(statistics.fmean(
        math.log(median(w)) for w in steps.values()))


@contextmanager
def traced_stages(tracer):
    """Wrap ``CheckpointManager.materialize`` in a span per stage."""
    from imageduplicatefinder_spark.plans.checkpoint import CheckpointManager

    original = CheckpointManager.materialize

    def materialize(self, stage, df_fn, num_partitions=None):
        with tracer.span(stage):
            return original(self, stage, df_fn, num_partitions)

    CheckpointManager.materialize = materialize
    try:
        yield
    finally:
        CheckpointManager.materialize = original


@dataclass
class Op:
    """One operation's outcome."""

    wall_s: float
    steps: dict[str, float]        # wall time of each step in it
    problems: list[str]            # failed output checks
    layers: dict[str, float]       # per-layer metrics (traced only)
    ckpt_bytes: int | None = None  # checkpoint bytes the operation wrote


class PipelineWorkload:
    """Fresh pipeline runs over a planted-family corpus."""

    name = "fresh_distinct"
    nominal_op_s = 8.0  # warm, local[4]

    def __init__(self, host: Host, seed: int) -> None:
        self.host = host
        self.seed = seed
        self.expected_rows: int | None = None
        self.n_ops = 0
        self.recalls: list[float] = []

    def setup(self, spark) -> None:
        from perfbench.inputs import write_pipeline_input

        self.inp = write_pipeline_input(
            str(self.host.work / "corpus"), self.seed, self.host.cores)
        self.docs = spark.read.parquet(self.inp.path)
        self.n_docs = self.inp.n_docs

    def _run(self, spark, ckpt: Path):
        from imageduplicatefinder_spark import DedupConfig
        from imageduplicatefinder_spark.plans.pipeline import DedupPipeline

        res = DedupPipeline(spark, DedupConfig(),
                            checkpoint_dir=str(ckpt)).run(self.docs)
        return res, res.plan.toPandas()

    def operation(self, spark, tracer=None) -> Op:
        from perfbench.checks import check_plan, same_plan
        from perfbench.inputs import dir_bytes

        ckpt = self.host.work / "ckpt" / f"op-{self.n_ops}"
        self.n_ops += 1
        t0 = time.monotonic()
        if tracer is None:
            res, plan = self._run(spark, ckpt)
        else:
            with traced_stages(tracer):
                res, plan = self._run(spark, ckpt)
        wall = time.monotonic() - t0
        problems, recall = check_plan(plan, self.inp.corpus.true_pairs,
                                      self.expected_rows)
        self.recalls.append(recall)
        if self.expected_rows is None:
            self.expected_rows = len(plan)
        written = dir_bytes(ckpt)
        layers = {}
        if tracer is not None:
            layers = self._layers(res, wall, tracer.resolve(), written)
            # crash after `bands`: drop the later checkpoints and resume
            for st in RESUME_LOST:
                shutil.rmtree(ckpt / st)
            t1 = time.monotonic()
            res2, plan2 = self._run(spark, ckpt)
            layers["resume.s"] = time.monotonic() - t1
            reused = [m for m in res2.ckpt.metrics if m.reused]
            layers["ckpt.read_s"] = sum(m.wall_s for m in reused)
            layers["ckpt.reused_stages"] = float(len(reused))
            problems += same_plan(plan, plan2)
            if len(reused) != len(STAGES) - len(RESUME_LOST):
                problems.append(f"resume reused {len(reused)} stages")
        shutil.rmtree(ckpt)
        # the steps are the stages, timed by the program itself
        steps = {m.stage: m.wall_s for m in res.ckpt.metrics}
        return Op(wall, steps, problems, layers, written)

    def _layers(self, res, wall: float, spans, written: int) -> dict:
        rows = {m.stage: m.rows for m in res.ckpt.metrics}
        out: dict[str, float] = {}
        for sp in spans:
            pre = f"stage.{sp.name}"
            out[f"{pre}.s"] = sp.wall_s
            out[f"{pre}.rows"] = float(rows[sp.name])
            for k in ("task_s", "shuffle_bytes", "spill_bytes", "util"):
                out[f"{pre}.{k}"] = sp.stats[k]
            if sp.name == "signatures":
                out[f"{pre}.python_s"] = sp.stats["python_s"]
        out["verify.yield"] = rows["edges"] / max(rows["candidates"], 1)
        out["funnel.reps_per_doc"] = rows["signatures"] / rows["documents_hashed"]
        out["pipeline.unattributed_s"] = wall - sum(sp.wall_s for sp in spans)
        out["ckpt.bytes_written"] = float(written)
        out["ckpt.bytes_per_input_byte"] = written / self.inp.n_bytes
        out["check.pair_recall"] = self.recalls[-1]
        return out

    def report(self) -> dict:
        return {"docs": self.n_docs, "input_bytes": self.inp.n_bytes,
                "pair_recall_min": min(self.recalls, default=0.0),
                "plan_rows": self.expected_rows}


class CatalogWorkload:
    """Passes over a fixed list of catalog queries."""

    name = "catalog_mix"
    nominal_op_s = 8.0  # warm, local[4]

    def __init__(self, host: Host, seed: int) -> None:
        self.host = host
        self.seed = seed
        self.order = list(CATALOG_QUERIES)
        random.Random(seed).shuffle(self.order)
        self.expected: dict[str, tuple[int, str]] | None = None

    def setup(self, spark) -> None:
        from perfbench.inputs import write_catalog_input

        self.inp = write_catalog_input(str(self.host.work / "tables"),
                                       self.seed)
        self.n_docs = self.inp.n_docs

    def expect(self) -> None:
        """Each query's oracle result (rows, value hash) from DuckDB."""
        import duckdb

        from imageduplicatefinder_spark.queries import ORACLES
        from perfbench.checks import value_hash

        con = duckdb.connect()
        con.execute(f"SET threads = {self.host.cores}")
        con.execute(f"SET temp_directory = '{self.host.tmp}'")
        for t in ("documents", "embeddings", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.inp.sf_dir}/{t}.parquet'")
        self.expected = {}
        for q in self.order:
            df = con.sql(ORACLES[q]).df()
            self.expected[q] = (len(df), value_hash(df))
        con.close()

    def operation(self, spark, tracer=None) -> Op:
        from imageduplicatefinder_spark.queries import QUERIES
        from perfbench.checks import check_query

        problems: list[str] = []
        results = {}
        walls = {}
        t0 = time.monotonic()
        for q in self.order:
            t1 = time.monotonic()
            if tracer is None:
                results[q] = QUERIES[q](spark, self.inp.sf_dir).toPandas()
            else:
                with tracer.span(q):
                    results[q] = QUERIES[q](spark, self.inp.sf_dir).toPandas()
            walls[q] = time.monotonic() - t1
        wall = time.monotonic() - t0
        # the oracles run once, after the first pass and outside its wall
        if self.expected is None:
            self.expect()
        for q in self.order:
            problems += check_query(q, results[q], self.expected[q])
        layers = {}
        if tracer is not None:
            for sp in tracer.resolve():
                layers[f"query.{sp.name}.s"] = sp.wall_s
                layers[f"query.{sp.name}.rows"] = float(len(results[sp.name]))
                layers[f"query.{sp.name}.shuffle_bytes"] = sp.stats["shuffle_bytes"]
        return Op(wall, walls, problems, layers)

    def report(self) -> dict:
        return {"docs": self.n_docs, "input_bytes": self.inp.n_bytes,
                "order": self.order}


WORKLOAD_TYPES = {"fresh_distinct": PipelineWorkload,
                  "catalog_mix": CatalogWorkload}


def run(args) -> dict:
    from perfbench.spans import Tracer

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    host = Host(work)
    wl = WORKLOAD_TYPES[args.workload](host, args.seed)
    spark = None
    try:
        # JVM launch: once per run; a launch (~8 s) per set-up would not
        # fit a run's time budget
        t0 = time.monotonic()
        spark = host.start_session()
        launch_s = time.monotonic() - t0
        # set-up: a new Spark session on the running JVM, then the
        # seeded inputs written and opened
        setup_walls = []
        for _ in range(SETUP_REPEATS):
            t0 = time.monotonic()
            spark.stop()
            spark = host.start_session()
            wl.setup(spark)
            setup_walls.append(time.monotonic() - t0)

        tracer = Tracer(spark, host.cores) if args.trace else None
        ops: list[dict] = []
        layer_samples: dict[str, list[float]] = {}
        steps: dict[str, list[float]] = {}  # untraced, passing, timed ops

        def attempt(w, traced: bool, first: bool) -> Op:
            """Run and record one operation; a failed one is counted."""
            load0 = os.getloadavg()[0]
            try:
                if tracer is not None:
                    tracer.spans.clear()
                op = w.operation(spark, tracer if traced else None)
            except Exception:  # noqa: BLE001
                op = Op(None, {}, [traceback.format_exc()], {})
            ops.append({"workload": w.name, "wall_s": op.wall_s,
                        "first": first, "traced": traced,
                        "steps_s": op.steps, "ckpt_bytes": op.ckpt_bytes,
                        "load1_before": load0,
                        "load1_after": os.getloadavg()[0],
                        "problems": op.problems})
            if traced and not op.problems:
                for k, v in op.layers.items():
                    layer_samples.setdefault(k, []).append(v)
            return op

        # op 0 is the first (cold) operation: JVM JIT, Python workers and
        # codegen caches fill in it, so it is reported as part of
        # cold_start_s and the timed operations follow it
        n_timed = n_operations(args.seconds, wl.nominal_op_s)
        if args.trace:
            # untraced operations on both sides of a traced one, so that
            # the JVM's warming over a run does not bias trace.overhead_s
            n_timed = max(n_timed, 3)
        for i in range(1 + n_timed):
            # a traced run alternates untraced and traced timed operations
            traced = bool(args.trace) and i > 0 and i % 2 == 0
            op = attempt(wl, traced, first=i == 0)
            if i > 0 and not traced and not op.problems:
                for k, v in op.steps.items():
                    steps.setdefault(k, []).append(v)
        if args.trace:
            # the layers this workload does not reach are traced on the
            # other workload's operation over the same seed (after an
            # untraced cold one), so no per-layer metric lacks a sample
            other = next(cls for name, cls in WORKLOAD_TYPES.items()
                         if name != args.workload)(host, args.seed)
            other.setup(spark)
            attempt(other, traced=False, first=True)
            attempt(other, traced=True, first=False)

        first = ops[0]
        timed = [o for o in ops if o["workload"] == wl.name
                 and not o["first"] and not o["problems"]]
        untraced = [o for o in timed if not o["traced"]]
        op_p50 = median([o["wall_s"] for o in untraced])
        e2e = {
            "setup_s": median(setup_walls),
            "op_s_p50": op_p50,
            "cold_start_s": (launch_s + first["wall_s"]
                             if not first["problems"] else 0.0),
            "geomean_step_s": geomean_step_s(steps),
        }
        report = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host.describe(),
            "launch_s": launch_s, "setup_walls_s": setup_walls,
            "operations": ops, "jvm_peak_rss_mb": jvm_peak_rss_mb(),
            **wl.report(),
        }
        if args.trace:
            layer = {k: median(v) for k, v in layer_samples.items()}
            layer["jvm.peak_rss_mb"] = jvm_peak_rss_mb()
            layer["trace.overhead_s"] = median(
                [o["wall_s"] for o in timed if o["traced"]]) - op_p50
            # a metric lacks a sample only when its operation failed
            metrics = metric_block(
                {k: layer.get(k, 0.0) for k in per_layer_units()}, True)
        else:
            metrics = metric_block(e2e, False)
        report["end_to_end"] = e2e
        failed = sum(bool(o["problems"]) for o in ops)
        return {
            "report": report,
            "result": {"correct": failed == 0 and bool(untraced),
                       "attempted": len(ops), "failed": failed,
                       "metrics": metrics},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOAD_TYPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not PACKAGE.is_dir():
        print(f"perfbench: no package at {PACKAGE}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    out = run(args)
    print(json.dumps({"perfbench_report": out["report"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
