"""In-process Spark sessions for the benchmark, built by the engine's own
``table_io.get_spark`` with the master set explicitly from the CPU count,
plus an event log that can be switched on for one section of a run."""

from __future__ import annotations

import contextlib
import os

import common

DESC = "perfbench:"


def start(cores: int, app: str):
    from oxidizepdf_spark.table_io import get_spark

    spark = get_spark(app_name=app, master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextlib.contextmanager
def event_log(spark, log_dir: str):
    """Record Spark's event log, uncompressed, for the enclosed section
    only: Spark's own ``EventLoggingListener`` is attached to the running
    context and detached once the listener bus has drained. The session,
    its warm Python workers and its JIT state are the ones the untraced
    section used, so the two sections differ only by the logging."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    uri = jvm.java.net.URI("file://" + os.path.abspath(log_dir))
    conf = (jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false"))
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId, jvm.scala.Option.apply(None), uri, conf,
        sc._jsc.hadoopConfiguration())
    listener.start()
    jsc.addSparkListener(listener)
    try:
        yield
    finally:
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()


def stop(spark) -> None:
    """Stop the session and the gateway JVM PySpark launched for it (it
    exits when its stdin closes), and wait until the JVM, the Python worker
    daemon and its workers have all exited."""
    from pyspark import SparkContext

    started = common.descendants(os.getpid())  # JVM, daemon, workers
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    common.wait_gone(started)


def describe(spark, what: str) -> None:
    """Label the executions that follow, so the event log can pick them."""
    spark.sparkContext.setJobDescription(DESC + what)
