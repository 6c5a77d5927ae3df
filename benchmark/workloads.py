"""The benchmark's workloads.

Each workload generates its inputs from the seed (``generate``), runs one
closed-loop iteration (``iteration``), and checks the iteration's output
with the gates in gates.py. ``figures`` gives the workload's own figures
of the traced iteration.
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gates
import inputs
from spantrace import Tracer, leaf_layer, stage_layer

N_CONVERSATIONS = 100

# figures a workload reports about its traced iteration, with their units;
# those of the other workload read 0
FIGURES = {
    "blocking.blocked_rows": "count",
    "blocking.max_block_rows": "count",
    "pairs.scored": "count",
    "pairs.match_ratio": "ratio",
    "cluster.edges": "count",
    "resolve.mentions": "count",
    "resolve.avg_iters": "count",
    "quality.pairwise_f1": "ratio",
    "quality.link_accuracy": "ratio",
    "link.cold_s": "s",
    "link.resume_s": "s",
    "leaves.pass_s": "s",
    "leaves.kernels_s": "s",
    "leaves.text_s": "s",
    "leaves.stats_s": "s",
}


@dataclass
class Iteration:
    seconds: float  # wall time of the timed calls into the engine
    calls: dict[str, float]  # wall time of each call into the engine
    failures: list[str] = field(default_factory=list)


def _span(tracer: Tracer | None, layer: str):
    return nullcontext() if tracer is None else tracer.span(layer)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


@contextmanager
def _traced_stages(tracer: Tracer | None):
    """Open a span around every ``StageCheckpointer.run_stage`` call. A
    stage whose builder is never called was resumed from its checkpoint;
    its span goes to the ``checkpoint`` layer."""
    from pboh_spark.checkpoint import StageCheckpointer

    if tracer is None:
        yield
        return
    orig = StageCheckpointer.run_stage

    def run_stage(self, stage, builder, *args, **kwargs):
        built = []

        def traced_builder():
            built.append(True)
            return builder()

        with tracer.span(stage_layer(stage)) as span:
            out = orig(self, stage, traced_builder, *args, **kwargs)
            if not built:
                span.layer = "checkpoint"
                tracer.counts["checkpoint.stages_skipped"] += 1
        return out

    StageCheckpointer.run_stage = run_stage
    try:
        yield
    finally:
        StageCheckpointer.run_stage = orig


class InstanceLink:
    """Synth transcripts -> ``pipeline.run_pipeline`` (instance mode, LBP
    on): a cold run into a fresh output dir, then a resume over it."""

    name = "instance_link"

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs: Path | None = None
        self.reference_hash: str | None = None
        self.traced: dict = {}  # the traced iteration's output, for figures()

    def generate(self, rep: int) -> None:
        from pboh_spark import synth

        d = self.work / f"inputs{rep}"
        uni = synth.EntityUniverse(seed=self.seed)
        transcripts, gold = synth.generate_transcripts(
            self.spark, N_CONVERSATIONS, universe=uni, seed=self.seed
        )
        anchors = synth.generate_anchors(
            self.spark, max(2 * N_CONVERSATIONS, 4000), universe=uni, seed=self.seed
        )
        transcripts.write.parquet(str(d / "transcripts"))
        gold.write.parquet(str(d / "gold"))
        anchors.write.parquet(str(d / "anchors"))
        self.inputs = d

    def _run(self, out: Path) -> tuple[dict, float]:
        from pboh_spark.pipeline import run_pipeline

        def call():
            read = self.spark.read.parquet
            return run_pipeline(
                self.spark, read(str(self.inputs / "transcripts")),
                read(str(self.inputs / "anchors")), str(out),
            )

        return _timed(call)

    def _stage(self, out: Path, stage: str):
        return self.spark.read.parquet(str(out / stage / "data"))

    def _link_run(self, m: dict, out: Path) -> gates.LinkRun:
        # read with pyarrow, not Spark: the check launches no Spark job
        def read(stage, cols):
            return pq.read_table(out / stage / "data", columns=cols).to_pandas()

        comp = read("s6_components", ["id", "cluster_id"]).rename(
            columns={"cluster_id": "v"})
        assign = read("s5_assignments", ["mention_id", "entity"]).rename(
            columns={"mention_id": "id", "entity": "v"})
        both = pd.concat([comp.assign(kind="c"), assign.assign(kind="a")])
        return gates.LinkRun(
            text_equality_violations=m["text_equality_violations"],
            pct_converged=m["lbp"]["pct_converged"],
            summary=(m["n_pairs_scored"], m["n_matches"], m["n_clusters"],
                     m["lbp"]["n_assignments"]),
            output_hash=gates.value_hash(both),
        )

    def iteration(self, i: int, tracer: Tracer | None) -> Iteration:
        from pboh_spark import evaluate

        out = self.work / f"out{i}"
        # the cold run's output is hashed before the resume runs over it
        with _span(tracer, "root"), _traced_stages(tracer):
            with _span(tracer, "pipeline"):
                m_cold, cold = self._run(out)
        cold_run = self._link_run(m_cold, out)
        with _span(tracer, "root"), _traced_stages(tracer):
            with _span(tracer, "pipeline"):
                m_resume, resume = self._run(out)

        gold = self.spark.read.parquet(str(self.inputs / "gold"))
        f1 = evaluate.pairwise_f1(
            evaluate.build_labeled_pairs(gold, self._stage(out, "s3_blocked")),
            self._stage(out, "s6_components"),
        )["f1"]
        acc = evaluate.linking_accuracy(
            self._stage(out, "s5_assignments"), gold,
            self._stage(out, "s1_mentions"),
        )["micro_accuracy"]
        fails = gates.check_link(
            cold_run, self._link_run(m_resume, out), f1, acc, self.reference_hash
        )
        if self.reference_hash is None:
            self.reference_hash = cold_run.output_hash
        if tracer is not None:
            self.traced = {"metrics": m_cold, "out": out, "f1": f1, "acc": acc}
        return Iteration(cold + resume, {"cold_s": cold, "resume_s": resume}, fails)

    def figures(self, it: Iteration) -> dict[str, float]:
        m, out = self.traced["metrics"], self.traced["out"]
        blocks = self._stage(out, "s3_blocked").groupBy("block_key").count()
        return {
            **{f"link.{k}": v for k, v in it.calls.items()},
            "blocking.blocked_rows": m["stages"]["s3_blocked"]["rows"],
            "blocking.max_block_rows": blocks.agg(F.max("count")).first()[0],
            "pairs.scored": m["n_pairs_scored"],
            "pairs.match_ratio": m["n_matches"] / max(m["n_pairs_scored"], 1),
            "cluster.edges": m["n_matches"],
            "resolve.mentions": m["lbp"]["n_assignments"],
            "resolve.avg_iters": m["lbp"]["avg_iters"],
            "quality.pairwise_f1": self.traced["f1"],
            "quality.link_accuracy": self.traced["acc"],
        }


# the contract's operator and statistics queries; the fits are left out
# because one cold fit takes half a run's time budget
LEAVES = (
    "dedup_lsh_pairs", "dedup_embedding_lsh_pairs", "dedup_simhash",
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
    "text_quality", "text_fingerprint",
    "stat_lambda_potential", "stat_name_stats_redirected",
)


class ContractLeaves:
    """One pass over ten contract queries of ``__spark_entry__``,
    each collected to the driver, on tables generated from the seed."""

    name = "contract_leaves"

    def __init__(self, spark, work: Path, seed: int):
        import __spark_entry__

        self.spark = spark
        self.work = work
        self.seed = seed
        self.entry = __spark_entry__
        self.queries = __spark_entry__.queries()
        self.data: Path | None = None
        self.oracle: dict | None = None

    def generate(self, rep: int) -> None:
        d = self.work / f"tables{rep}"
        inputs.write_tables(d, self.seed)
        self.data = d

    def _oracle(self) -> dict:
        import duckdb

        sql = self.entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in inputs.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data / t}.parquet')"
                )
            return {name: con.execute(sql[name]).fetchdf() for name in LEAVES}
        finally:
            con.close()

    def iteration(self, i: int, tracer: Tracer | None) -> Iteration:
        # stat_lambda_potential persists a table: start every pass uncached
        self.spark.catalog.clearCache()
        results, calls = {}, {}
        t0 = time.perf_counter()
        with _span(tracer, "root"):
            for name in LEAVES:
                with _span(tracer, leaf_layer(name)):
                    results[name], calls[name] = _timed(
                        lambda: self.queries[name](self.spark, str(self.data)).toPandas()
                    )
        seconds = time.perf_counter() - t0
        if self.oracle is None:  # the inputs are fixed once set-up is done
            self.oracle = self._oracle()
        fails = []
        for name in LEAVES:
            fails += gates.check_leaf(name, results[name], self.oracle[name])
        return Iteration(seconds, calls, fails)

    def figures(self, it: Iteration) -> dict[str, float]:
        def family(*prefixes):
            return sum(v for k, v in it.calls.items() if k.startswith(prefixes))

        return {
            "leaves.pass_s": it.seconds,
            "leaves.kernels_s": family("dedup_", "ann_"),
            "leaves.text_s": family("text_"),
            "leaves.stats_s": family("stat_"),
        }


WORKLOADS = {w.name: w for w in (InstanceLink, ContractLeaves)}
