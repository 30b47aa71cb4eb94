"""The Hadoop configuration a local session ships to its tasks: no key
whose only source is ``yarn-default.xml`` or ``mapred-default.xml``,
every ``core-default.xml`` key, and every explicitly set key with its
value, after batch writes and streaming drains (``session.lean_hadoop_conf``)."""

from __future__ import annotations

import os

import pytest

from realtime_event_streaming_spark.plans.staging import stage_files
from realtime_event_streaming_spark.plans.streaming_replay import FIXTURE_DIR
from realtime_event_streaming_spark.session import (
    MR_YARN_DEFAULTS,
    lean_hadoop_conf,
    prepare,
)
from realtime_event_streaming_spark.streaming.deploy import start_pipeline

_DEFAULTS = ("core-default.xml",) + MR_YARN_DEFAULTS
_MR_YARN_ONLY = [(f,) for f in MR_YARN_DEFAULTS]


def _sources(jvm, conf) -> dict[str, tuple[str, ...] | None]:
    """key -> ``getPropertySources(key)`` for every key of ``conf``."""
    keys = jvm.java.lang.String.join("\n", conf.getPropsWithPrefix("").keySet())
    out = {}
    for key in keys.split("\n"):
        src = conf.getPropertySources(key)
        out[key] = None if src is None else tuple(src)
    return out


def _keys_of(jvm, resource: str) -> set[str]:
    conf = jvm.org.apache.hadoop.conf.Configuration(False)
    conf.addResource(resource)
    return set(jvm.java.lang.String.join("\n", conf.getPropsWithPrefix("").keySet()).split("\n"))


def _write_batch(spark, path: str) -> None:
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(path)


def test_batch_parquet_write_commits_after_trim(spark, tmp_path):
    """The committer-facing keys read at their code defaults: a batch
    write still marks success and cleans up, and output is not
    compressed by the MapReduce switch."""
    jvm = spark.sparkContext._jvm
    out = str(tmp_path / "batch")
    _write_batch(spark, out)
    names = os.listdir(out)
    assert "_SUCCESS" in names
    assert "_temporary" not in names
    assert spark.read.parquet(out).count() == 100

    conf = spark._jsparkSession.sessionState().newHadoopConf()
    assert conf.get("mapreduce.output.fileoutputformat.compress") is None
    job = jvm.org.apache.hadoop.mapreduce.Job.getInstance(conf)
    FileOutputFormat = jvm.org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
    assert FileOutputFormat.getCompressOutput(job) is False


def test_local_session_ships_no_mapreduce_or_yarn_defaults(spark, tmp_path):
    sc = spark.sparkContext
    jvm = sc._jvm
    _write_batch(spark, str(tmp_path / "batch"))
    pipe = start_pipeline(spark, stage_files(FIXTURE_DIR), str(tmp_path / "out"))
    pipe.await_all(300)
    assert spark.read.parquet(str(tmp_path / "out" / "clicks_raw")).count() > 0

    # What SparkContext built, rebuilt from the same SparkConf: untrimmed.
    fresh_conf = jvm.org.apache.spark.deploy.SparkHadoopUtil.get().newConfiguration(
        sc._jsc.sc().conf()
    )
    fresh = _sources(jvm, fresh_conf)
    assert sum(src in _MR_YARN_ONLY for src in fresh.values()) >= 700
    explicit = {
        k for k, src in fresh.items() if src is None or not set(src) <= set(_DEFAULTS)
    }
    # the fs.* keys are set only when the fork-free local filesystem built
    fs_keys = {
        k for k in ("fs.file.impl", "fs.AbstractFileSystem.file.impl")
        if sc.getConf().contains(f"spark.hadoop.{k}")
    }
    assert {"io.file.buffer.size", "mapreduce.fileoutputcommitter.algorithm.version"} | fs_keys <= explicit
    core = _keys_of(jvm, "core-default.xml")

    for label, conf in [
        ("hadoopConfiguration", sc._jsc.hadoopConfiguration()),
        ("newHadoopConf", spark._jsparkSession.sessionState().newHadoopConf()),
    ]:
        live = _sources(jvm, conf)
        mr_yarn_only = [k for k, src in live.items() if src in _MR_YARN_ONLY]
        assert mr_yarn_only == [], (label, len(mr_yarn_only), mr_yarn_only[:5])
        assert core <= set(live), (label, sorted(core - set(live))[:5])
        for key in explicit:
            assert conf.get(key) == fresh_conf.get(key), (label, key)
        assert conf.get("hive.metastore.warehouse.dir") is not None, label
    assert len(_sources(jvm, sc._jsc.hadoopConfiguration())) < 500


def test_a_key_set_in_code_survives_a_second_prepare(spark):
    sc = spark.sparkContext
    conf = sc._jsc.hadoopConfiguration()
    # one new key, one that mapred-default.xml also defines
    keys = {"rtes.test.lean_conf": "kept", "mapreduce.job.reduces": "7"}
    for k, v in keys.items():
        conf.set(k, v)
    try:
        prepare(spark)
        assert lean_hadoop_conf(sc) == 0, "the trim runs once per SparkContext"
        for k, v in keys.items():
            assert conf.get(k) == v
            assert tuple(conf.getPropertySources(k)) == ("programmatically",)
    finally:
        for k in keys:
            conf.unset(k)


class _ClusterContext:
    """A SparkContext stand-in whose JVM must not be touched."""

    def __init__(self, master: str):
        self.master = master

    @property
    def _jvm(self):
        raise AssertionError("a cluster session's conf was touched")

    _jsc = _jvm


@pytest.mark.parametrize(
    "master", ["yarn", "spark://host:7077", "k8s://https://host:443", "mesos://host:5050"]
)
def test_a_cluster_master_is_left_untouched(master):
    assert lean_hadoop_conf(_ClusterContext(master)) == 0
