"""Per-stage checkpointing with content fingerprints + metrics, and
resume-from-last-complete-stage (north_rule requirement).

Design: every pipeline stage is written durably before the next stage
reads it — the distributed analogue of the reference's persist() +
saveAsTextFile checkpoints between its RDD jobs
(context/EntityWordsProbs.scala:200,213). A stage directory contains

    <base>/<stage>/data/          parquet
    <base>/<stage>/metrics.json   rows, an order-independent content
                                  checksum, the caller's observed
                                  figures, wall time, schema, and the
                                  upstream stages' fingerprints

Every figure in metrics.json rides the stage's own write job through one
``df.observe``: a cold stage runs exactly one job (plus the parquet
schema read of the returned DataFrame), never a second scan.

Resume: a stage is **skipped** and served from its data dir when its
metrics.json is readable, records the observed figures the caller asks
for, and holds the current ``rows:checksum:schema`` fingerprint of every
upstream stage. A rebuilt upstream whose *content* changed — even at the
same row count — therefore invalidates everything downstream, and a
metrics.json written by an older format (no checksum) rebuilds once.
metrics.json is removed before a stage's data is rewritten and replaced
atomically after it, so a killed write always leaves the stage
incomplete.

At 100 TB these durable writes double as shuffle barriers that truncate
lineage (no 40-stage recompute on executor loss) and as the natural
place to repartition/bucket for the next stage's join key.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _fingerprint(metrics: dict) -> str:
    return f"{metrics.get('rows')}:{metrics.get('checksum')}:{metrics.get('schema')}"


def _checksum(df: DataFrame):
    """Sum of a 64-bit row hash over all columns: independent of row
    order and partitioning. Summed as decimal(38,0), which cannot
    overflow under ANSI mode below ~10^19 rows; 0 for an empty stage."""
    h = F.xxhash64(*[df[c] for c in df.columns]).cast("decimal(38,0)")
    return F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)"))


class StageCheckpointer:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self._done: dict[str, dict] = {}

    def _paths(self, stage: str) -> tuple[Path, Path]:
        d = self.base / stage
        return d / "data", d / "metrics.json"

    def load_metrics(self, stage: str) -> dict | None:
        """A stage's metrics.json, or None when it is missing or
        unreadable (a write cut short leaves the stage incomplete)."""
        _, mpath = self._paths(stage)
        try:
            return json.loads(mpath.read_text())
        except (OSError, ValueError):
            return None

    def is_complete(
        self, stage: str, upstream: list[str], observed: tuple[str, ...] = ()
    ) -> bool:
        m = self.load_metrics(stage)
        if m is None or "checksum" not in m:
            return False
        if any(k not in m["observed"] for k in observed):
            return False
        for up in upstream:
            um = self.stage_metrics(up)
            if not um or m["upstream"].get(up) != _fingerprint(um):
                return False
        return True

    def stage_metrics(self, stage: str) -> dict:
        """Metrics of a stage run (or resumed) this session."""
        return self._done.get(stage) or self.load_metrics(stage) or {}

    def run_stage(
        self,
        stage: str,
        builder: Callable[[], DataFrame],
        upstream: list[str] | None = None,
        repartition_by: str | None = None,
        num_partitions: int | None = None,
        observe: dict | None = None,
    ) -> DataFrame:
        """Build-or-resume. ``repartition_by`` lets a stage land
        pre-partitioned on the next stage's join/agg key (the bucketing
        analogue without a metastore).

        ``observe`` — {name: aggregate Column} ridden on the stage write
        together with the row count and checksum, and persisted under
        ``metrics.json["observed"]`` so resumed runs read them back."""
        upstream = upstream or []
        observe = observe or {}
        dpath, mpath = self._paths(stage)
        if self.is_complete(stage, upstream, tuple(observe)):
            self._done[stage] = self.load_metrics(stage)
            return self.spark.read.parquet(str(dpath))

        self._done.pop(stage, None)
        mpath.unlink(missing_ok=True)
        t0 = time.time()
        df = builder()
        obs = Observation(stage)
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            _checksum(df).alias("checksum"),
            *[expr.alias(name) for name, expr in observe.items()],
        )
        if repartition_by:
            df = df.repartition(
                *( [num_partitions] if num_partitions else [] ),
                repartition_by,
            )
        df.write.mode("overwrite").parquet(str(dpath))
        out = self.spark.read.parquet(str(dpath))
        got = dict(obs.get)
        metrics = {
            "stage": stage,
            "rows": got.pop("rows"),
            "checksum": int(got.pop("checksum")),
            "observed": got,
            "wall_sec": round(time.time() - t0, 3),
            "schema": out.schema.simpleString(),
            "upstream": {up: _fingerprint(self.stage_metrics(up)) for up in upstream},
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = mpath.with_name(mpath.name + ".tmp")
        tmp.write_text(json.dumps(metrics, indent=1))
        os.replace(tmp, mpath)
        self._done[stage] = metrics
        return out

    def summary(self) -> dict[str, dict]:
        out = {}
        for d in sorted(self.base.iterdir()):
            m = self.load_metrics(d.name)
            if m:
                out[d.name] = {
                    k: m.get(k) for k in ("rows", "checksum", "wall_sec")
                }
        return out
