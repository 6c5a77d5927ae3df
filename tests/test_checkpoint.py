"""StageCheckpointer resume rules under injected failures: each test
checks exactly which stages rebuild.

The chain is a → d, a → b → c; a stage "rebuilds" when its builder runs.
"""

import json
import shutil

import pytest
from pyspark.sql import functions as F

from pboh_spark.checkpoint import StageCheckpointer


def _run_chain(spark, base, a_vals, fail_b=False) -> set[str]:
    ck = StageCheckpointer(spark, str(base))
    built: set[str] = set()

    def stage(name, build, upstream=None):
        def traced():
            built.add(name)
            return build()

        return ck.run_stage(name, traced, upstream=upstream)

    w = F.col("v") * 2
    if fail_b:  # the write job dies part-way through b's rows
        w = F.when(F.col("id") == 3, F.raise_error(F.lit("injected"))).otherwise(w)
    a = stage(
        "a",
        lambda: spark.createDataFrame(list(enumerate(a_vals)), "id long, v long"),
    )
    stage("d", lambda: a.groupBy().agg(F.sum("v").alias("total")), ["a"])
    b = stage("b", lambda: a.select("id", w.alias("w")), ["a"])
    stage("c", lambda: b.where("w % 4 = 0"), ["b"])
    return built


ALL = {"a", "b", "c", "d"}


def test_same_row_count_content_change_invalidates_downstream(spark, tmp_path):
    assert _run_chain(spark, tmp_path, range(10)) == ALL
    # a is rebuilt from new input of the same size and schema
    shutil.rmtree(tmp_path / "a")
    assert _run_chain(spark, tmp_path, range(10, 20)) == ALL
    # rebuilt with identical content, the downstream stages resume
    shutil.rmtree(tmp_path / "a")
    assert _run_chain(spark, tmp_path, range(10, 20)) == {"a"}
    assert _run_chain(spark, tmp_path, range(10, 20)) == set()


def test_interrupted_write_rebuilds_stage_and_downstream_only(spark, tmp_path):
    _run_chain(spark, tmp_path, range(10))
    shutil.rmtree(tmp_path / "a")
    with pytest.raises(Exception, match="injected"):
        _run_chain(spark, tmp_path, range(10, 20), fail_b=True)
    assert (tmp_path / "b" / "data").exists()
    assert not (tmp_path / "b" / "metrics.json").exists()
    assert _run_chain(spark, tmp_path, range(10, 20)) == {"b", "c"}
    assert _run_chain(spark, tmp_path, range(10, 20)) == set()


def test_truncated_metrics_file_rebuilds_stage(spark, tmp_path):
    _run_chain(spark, tmp_path, range(10))
    mpath = tmp_path / "b" / "metrics.json"
    text = mpath.read_text()
    mpath.write_text(text[: len(text) // 2])
    # same content rebuilt: the downstream stage still resumes
    assert _run_chain(spark, tmp_path, range(10)) == {"b"}
    assert json.loads(mpath.read_text())["stage"] == "b"


def test_older_format_metrics_rebuild_once(spark, tmp_path):
    """metrics.json written before checksums existed: fingerprint
    ``rows:schema``, per-partition lineage, no checksum."""
    _run_chain(spark, tmp_path, range(10))
    for d in tmp_path.iterdir():
        m = json.loads((d / "metrics.json").read_text())
        old = {
            "stage": m["stage"],
            "rows": m["rows"],
            "n_partitions": 1,
            "per_partition": [{"partition": 0, "rows": m["rows"]}],
            "wall_sec": m["wall_sec"],
            "schema": m["schema"],
            "upstream": {
                up: "{rows}:{schema}".format(
                    **json.loads((tmp_path / up / "metrics.json").read_text())
                )
                for up in m["upstream"]
            },
            "completed_at": m["completed_at"],
        }
        (d / "metrics.json").write_text(json.dumps(old))
    assert _run_chain(spark, tmp_path, range(10)) == ALL
    assert _run_chain(spark, tmp_path, range(10)) == set()


def test_checksum_ignores_partitioning_and_sees_values(spark, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path))
    df = spark.range(200).selectExpr("id", "cast(id % 7 as string) as s")
    ck.run_stage("one", lambda: df.repartition(1))
    ck.run_stage("seven", lambda: df.repartition(7))
    ck.run_stage("keyed", lambda: df, repartition_by="s", num_partitions=3)
    ck.run_stage("shifted", lambda: df.withColumn("id", F.col("id") + 1))
    m = {s: ck.stage_metrics(s) for s in ("one", "seven", "keyed", "shifted")}
    assert {(v["rows"], v["checksum"]) for k, v in m.items() if k != "shifted"} == {
        (200, m["one"]["checksum"])
    }
    assert m["shifted"]["rows"] == 200
    assert m["shifted"]["checksum"] != m["one"]["checksum"]


def test_empty_stage_records_zero_rows(spark, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path))
    ck.run_stage(
        "empty",
        lambda: spark.range(10).where("id < 0"),
        observe={"n": F.coalesce(F.sum("id"), F.lit(0))},
    )
    m = ck.stage_metrics("empty")
    assert (m["rows"], m["checksum"], m["observed"]) == (0, 0, {"n": 0})


def test_missing_observed_figure_rebuilds(spark, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path))
    built = []

    def build():
        built.append(1)
        return spark.range(5)

    ck.run_stage("s", build)
    ck.run_stage("s", build, observe={"top": F.max("id")})
    ck.run_stage("s", build, observe={"top": F.max("id")})
    assert len(built) == 2
    assert ck.stage_metrics("s")["observed"] == {"top": 4}


def _jobs_in_group(spark, group, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_cold_stage_runs_no_job_beyond_its_write(spark, tmp_path):
    """A cold stage costs what writing the parquet and reading its schema
    back costs: the rows, checksum and observed figures ride the write."""
    df = spark.range(1000).selectExpr("id", "id % 13 as k", "cast(id as string) as s")

    def bare():
        p = str(tmp_path / "bare")
        df.write.parquet(p)
        spark.read.parquet(p).schema

    ck = StageCheckpointer(spark, str(tmp_path / "ck"))
    want = _jobs_in_group(spark, "ck-bare-write", bare)
    got = _jobs_in_group(
        spark,
        "ck-cold-stage",
        lambda: ck.run_stage(
            "s", lambda: df, observe={"top_k": F.max("k")}
        ),
    )
    assert want and len(got) <= len(want)
    assert ck.stage_metrics("s")["rows"] == 1000
