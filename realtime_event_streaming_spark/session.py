"""SparkSession factory and per-session preparation.

Design notes (100 TB posture):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic join-strategy switching replace hand-tuned partition
  counts when the same plans run on a real cluster.
- ``spark.sql.shuffle.partitions``: ``get_spark`` sets
  ``max(local cores, 8)``; ``prepare`` sets 32 on a session that still
  carries Spark's default of 200 and leaves any other value alone. On a
  cluster this is expected to be overridden (or left to AQE with a high
  initial value). One stream does not follow it: ``agg.write_rollup``
  starts the minute rollup at 1 partition (``shuffle_partitions``),
  because its state is a few hundred window keys and every extra
  partition is only another stateful task per micro-batch.
- Arrow enabled for any pandas-UDF path (the slow-path escape hatch).
- Session timezone pinned to UTC so event-time bucketing is
  deterministic and matches the DuckDB oracle (naive timestamps).
- Local ``file:`` paths go through a fork-free Hadoop filesystem
  (``localfs``): the stock one forks ``chmod``/``readlink`` per file
  without libhadoop, which put ~4 ms per checkpoint, state or sink file
  on every micro-batch. It is compiled on first use and put on the
  driver class path when ``get_spark`` launches the JVM; without
  ``javac`` the stock filesystem stays. It applies to local paths only
  (HDFS/object stores are untouched), and cluster sessions bypass
  ``get_spark`` and so keep whatever their deployment configures.
- The driver JVM that ``get_spark`` launches maps a class-data-sharing
  archive of the classes a session loads (``jvm_archive``), which
  halves the JVM's start. The first launch on an empty cache writes it
  when its JVM exits, into the same cache as the filesystem jar. It is
  used only when the conf dir holds nothing but ``*.template`` files
  and no environment variable adds class path entries or CDS options;
  a JVM that dies at start with the archive is relaunched without it
  and the archive deleted.
- A ``local`` session ships its Hadoop configuration without the
  MapReduce and YARN defaults (``lean_hadoop_conf``, run by ``prepare``
  once per SparkContext). ``JobConf``'s static initializer registers
  ``yarn-default.xml`` and ``mapred-default.xml`` as default resources
  of every ``Configuration`` in the process, which put 714 keys into the
  1,113 (~113 KB) that every file-sink micro-batch serialized (closure
  check, task binary, scan broadcast) and every one of its tasks
  deserialized. A local session runs no YARN code, and the only
  MapReduce classes on its paths are ``FileOutputCommitter``,
  ``FileOutputFormat`` and ``FileInputFormat`` (Spark SQL never calls
  ``getSplits``). So every key whose only recorded source
  (``getPropertySources``) is one of those two files is removed, and
  399 keys (~38 KB) stay: the ``core-default.xml`` keys and every key
  set by Spark, by ``spark.hadoop.*``, by code or by a ``*-site.xml``,
  each of which records its own source. The trim costs ~40 ms once: the
  grouping by source and the unsets run inside the JVM, where one Py4J
  call per key would take ~0.15 s. The keys of those three classes
  that the two files define, as XML value / code default (Hadoop
  3.4.2) once removed:

  - ``mapreduce.fileoutputcommitter.algorithm.version``: 2 / 2 (Spark
    sets 1, which stays)
  - ``mapreduce.fileoutputcommitter.task.cleanup.enabled``: false / false
  - ``mapreduce.output.fileoutputformat.compress``: false / false
  - ``mapreduce.output.fileoutputformat.compress.type``: RECORD / RECORD
  - ``mapreduce.output.fileoutputformat.compress.codec``: DefaultCodec /
    the caller's default, read only when ``compress`` is true
  - ``mapreduce.input.fileinputformat.split.minsize``: 0 / 1, and
    ``getSplits`` clamps it to at least 1 either way
  - ``mapreduce.input.fileinputformat.list-status.num-threads``: 1 / 1

  The committer's other keys (``marksuccessfuljobs``,
  ``cleanup.skipped``, ``cleanup-failures.ignored``,
  ``failures.attempts``) are in neither file and were always read at
  their code defaults. A session on any other master (a cluster) keeps
  its configuration untouched. The trim lasts until a Hadoop class
  registers a new default resource (``Configuration.addDefaultResource``,
  e.g. the HDFS client's ``hdfs-default.xml``): that reloads every
  configuration in the process and brings the keys back.
"""

from __future__ import annotations

import logging
import os
import weakref
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

from .jvm_archive import launch
from .localfs import local_fs_confs

log = logging.getLogger(__name__)

#: Runtime-settable confs applied to ANY session we are handed (including
#: the driver's own session in ``__spark_entry__``). Only confs that are
#: safe to set at runtime belong here.
RUNTIME_CONFS: dict[str, str] = {
    # The driver-generated events.parquet stores ts as INT64
    # TIMESTAMP(NANOS) which Spark's reader rejects by default; read it
    # as a long and convert explicitly (io.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Partition-discovery listing switches from driver-side to a Spark
    # JOB when a table has more than this many dirs (default 32). The
    # materialized index tables here have 32-132 partition dirs, right
    # over the default, so EVERY probe construction was paying a
    # listing job (measured 0.2-0.4 s warm) to parallelize a listing
    # the driver does in milliseconds. 256 keeps small-partition-count
    # tables on the driver at any corpus size — a table under a few
    # hundred dirs lists faster serially even on object stores (one
    # LIST round-trip per dir vs job scheduling + task launch) — while
    # genuinely wide tables (thousands of date/tenant partitions at
    # 100 TB) still exceed it and keep the parallel path.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "256",
}

#: PySpark 4 wraps every DataFrame API call to capture the Python call
#: site for error contexts — THREE extra Py4J round trips per call
#: (conf.get + origin set/clear), measured ~4 ms per wrapped call and
#: ~0.7 s of a single NSW probe construction (round-15 cProfile: 167
#: wrapped calls). Query CONSTRUCTION is query latency on the serving
#: paths, so trade the Python-side call-site line in error messages
#: (JVM stack traces and error classes are unaffected) for driver
#: latency. STATIC conf: settable only at session build (get_spark);
#: on driver-handed sessions whatever the builder chose stands. The
#: flag is read once per process and cached by pyspark.errors.utils.
#: Debug sessions can opt back in with RTES_DF_DEBUGGING=1 (round-15
#: advice).
_DF_DEBUGGING = (
    "true" if os.environ.get("RTES_DF_DEBUGGING") == "1" else "false"
)

#: Stateful STREAMING shuffles are not AQE-coalesced and pin their
#: partition count into the state layout; 200 (the global default) is
#: pathological on a single node. Applied by ``prepare`` ONLY while the
#: session still carries Spark's default, so a user/cluster override —
#: whether set before or after prepare() — survives re-preparation
#: (load_table re-invokes prepare on every query build).
DEFAULT_SHUFFLE_PARTITIONS = "32"
_SHUFFLE_KEY = "spark.sql.shuffle.partitions"
_SPARK_GLOBAL_DEFAULT = "200"
#: shuffle partitions while a fixture-scale streaming replay runs
#: (``fixture_scale_shuffle``)
FIXTURE_SHUFFLE_PARTITIONS = 4


#: The default resources ``JobConf``'s static initializer registers
#: (``ConfigUtil.loadResources``); ``lean_hadoop_conf`` drops their keys.
MR_YARN_DEFAULTS = ("yarn-default.xml", "mapred-default.xml")
#: SparkContexts whose Hadoop configuration ``lean_hadoop_conf`` has seen
_LEAN_CONTEXTS: weakref.WeakSet = weakref.WeakSet()


def _java_function(jvm, interface: str, handle):
    """The Java method ``handle`` as an instance of the functional
    ``interface``, so that a Java stream calls it once per item inside
    the JVM instead of Python calling it once per item over Py4J."""
    return jvm.java.lang.invoke.MethodHandleProxies.asInterfaceInstance(
        jvm.java.lang.Class.forName(interface), handle
    )


def _conf_method(jvm, conf, name: str, returns):
    """``conf.<name>(String key)`` as a method handle bound to ``conf``."""
    invoke = jvm.java.lang.invoke
    string = jvm.java.lang.Class.forName("java.lang.String")
    return invoke.MethodHandles.publicLookup().findVirtual(
        conf.getClass(), name, invoke.MethodType.methodType(returns, string)
    ).bindTo(conf)


def hadoop_keys_by_source(jvm, conf):
    """A Java ``Map`` from each source list of ``conf``'s keys, as
    ``Arrays.toString`` prints it (``"[mapred-default.xml]"``), to the
    keys that have it (``Configuration.getPropertySources``), built in a
    few Py4J calls."""
    invoke = jvm.java.lang.invoke
    mtype = invoke.MethodType.methodType
    string = jvm.java.lang.Class.forName("java.lang.String")
    strings = jvm.java.lang.Class.forName("[Ljava.lang.String;")
    to_string = invoke.MethodHandles.publicLookup().findStatic(
        jvm.java.lang.Class.forName("java.util.Arrays"), "toString",
        mtype(string, jvm.java.lang.Class.forName("[Ljava.lang.Object;")),
    ).asType(mtype(string, strings))
    sources_of = invoke.MethodHandles.filterReturnValue(
        _conf_method(jvm, conf, "getPropertySources", strings), to_string
    )
    return conf.getPropsWithPrefix("").keySet().stream().collect(
        jvm.java.util.stream.Collectors.groupingBy(
            _java_function(jvm, "java.util.function.Function", sources_of)
        )
    )


def lean_hadoop_conf(sc: SparkContext) -> int:
    """Remove from a ``local`` SparkContext's Hadoop configuration every
    key whose only source is ``yarn-default.xml`` or
    ``mapred-default.xml`` (module docstring); return how many.

    Runs once per SparkContext; later calls and non-local masters
    return 0 without a JVM call."""
    if not sc.master.startswith("local") or sc in _LEAN_CONTEXTS:
        return 0
    _LEAN_CONTEXTS.add(sc)
    jvm = sc._jvm
    # A first use of JobConf after the trim would register the two
    # files as default resources, which reloads every configuration.
    jvm.java.lang.Class.forName(
        "org.apache.hadoop.mapred.JobConf", True,
        jvm.java.lang.Thread.currentThread().getContextClassLoader(),
    )
    conf = sc._jsc.hadoopConfiguration()
    by_source = hadoop_keys_by_source(jvm, conf)
    unset = _java_function(
        jvm, "java.util.function.Consumer",
        _conf_method(jvm, conf, "unset", jvm.java.lang.Void.TYPE),
    )
    removed = 0
    for resource in MR_YARN_DEFAULTS:
        keys = by_source.get(f"[{resource}]")
        if keys is not None:
            keys.forEach(unset)
            removed += keys.size()
    return removed


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent) and, on
    a local master, trim its Hadoop configuration (``lean_hadoop_conf``)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            # Conf not runtime-settable in this build — every conf above
            # is documented runtime-settable in Spark 4, so a failure
            # means a misconfigured session: say so, don't mask it.
            log.warning("prepare(): could not set %s=%s: %s", k, v, exc)
    try:
        if spark.conf.get(_SHUFFLE_KEY, None) in (None, _SPARK_GLOBAL_DEFAULT):
            spark.conf.set(_SHUFFLE_KEY, DEFAULT_SHUFFLE_PARTITIONS)
    except Exception as exc:
        log.warning("prepare(): could not adjust %s: %s", _SHUFFLE_KEY, exc)
    try:
        lean_hadoop_conf(spark.sparkContext)
    except Exception as exc:
        log.warning("prepare(): could not trim the Hadoop conf: %s", exc)
    return spark


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Set ``spark.sql.shuffle.partitions`` to ``n`` for the body and
    restore the prior value after, unsetting it if it was unset.

    Stateful streaming shuffles are not AQE-coalesced, and a streaming
    query reads the count once, when ``start()`` builds its execution
    from a clone of the session, then records it in its checkpoint's
    offset log; so a pin around ``start()`` sizes that query's state
    for life and leaves the session as it was."""
    old = spark.conf.get(_SHUFFLE_KEY, None)
    spark.conf.set(_SHUFFLE_KEY, str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(_SHUFFLE_KEY)
        else:
            spark.conf.set(_SHUFFLE_KEY, old)


def fixture_scale_shuffle(spark: SparkSession):
    """``shuffle_partitions`` at ``FIXTURE_SHUFFLE_PARTITIONS`` for a
    FIXTURE-SCALE streaming replay.

    The committed replay fixtures are tens-of-rows micro-batches, but
    every stateful batch pays task launch + state-store open for the
    full partition count, which dominates the replay queries' wall time
    in the oracle parity run. Values are partition-count-invariant (the
    oracle hash proves it); production streams keep the session default,
    except the minute rollup (``agg.write_rollup``), which pins its own."""
    return shuffle_partitions(spark, FIXTURE_SHUFFLE_PARTITIONS)


def get_spark(app_name: str = "realtime-event-streaming-spark") -> SparkSession:
    """Create (or fetch) a local session sized from the environment.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    on a real cluster the builder master/conf come from spark-submit and
    this factory is bypassed entirely.

    The local filesystem confs and the class-data archive are launch-time
    settings, so they are added only when this call starts the JVM; a
    JVM already running keeps the ones it was launched with.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    def start(launch_confs: dict[str, str]) -> SparkSession:
        return (
            SparkSession.builder.appName(app_name)
            .master(f"local[{cpus}]")
            .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
            .config("spark.ui.enabled", "false")
            .config("spark.sql.files.maxPartitionBytes", "134217728")
            .config("spark.python.sql.dataFrameDebugging.enabled", _DF_DEBUGGING)
            .config(map=launch_confs)
            .getOrCreate()
        )

    if SparkContext._gateway is not None:
        return prepare(start({}))
    return prepare(launch(start, local_fs_confs()))
