"""JVM kernels: the Java sources in this directory, the jar built from
them (``scripts/build_jvm.py``), and the loader that puts the jar into a
running SparkContext.

The jar is committed and loaded as is; nothing compiles at run time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "storm-bench-kernels.jar")


def kernels(spark: SparkSession):
    """py4j view of the Java package ``storm_bench_spark.jvm``.

    The first call on a SparkContext registers the jar with it, so its
    tasks fetch it, and adds it to the driver's context class loader
    (Spark's ``MutableURLClassLoader``), which py4j resolves classes
    through. Whether the jar is registered is read from the live
    context's jar list, so a new context after ``stop()`` or a fresh
    JVM loads it again, and a session started with the jar in
    ``spark.jars`` is left as it is.
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    registered = sc._jsc.sc().listJars().mkString("\n").split("\n")
    if not any(j.endswith("/" + os.path.basename(JAR)) for j in registered):
        sc._jsc.sc().addJar(JAR)
        loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
        loader.addURL(jvm.java.io.File(JAR).toURI().toURL())
    return jvm.storm_bench_spark.jvm
