"""JVM kernels: ``running_count``'s per-batch emissions against a
pure-Python cumulative count (on the suite's session, on a vanilla
``SparkSession``, on a second context and on a second JVM), and the
committed jar against its Java source."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from storm_bench_spark.jvm import JAR
from storm_bench_spark.streaming.stateful import running_count

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one micro-batch per inner list; None is a key of its own
STRING_BATCHES = [["a", "b", None, "a"], ["a", None, "c"], ["b", "b", "d", None, "a"]]
BIGINT_BATCHES = [[7, 2**40, None, 7], [-1, 7], [2**40, None, None, -1]]


def expected_emissions(batches: list[list]) -> list[list[tuple]]:
    """Per batch, ``(str(key), cumulative count)`` for each key the batch
    holds: WordCount.Count's HashMap, read once per micro-batch."""
    total: dict = {}
    out = []
    for batch in batches:
        for k in batch:
            total[k] = total.get(k, 0) + 1
        keys = set(batch)
        out.append(sorted(((None if k is None else str(k), total[k]) for k in keys), key=repr))
    return out


def emitted_per_batch(spark, work: str, batches: list[list], key_type: str) -> list[list[tuple]]:
    """Feed each batch as one JSON file, one trigger per file, through
    ``running_count``; returns every trigger's sink rows."""
    src = os.path.join(work, "src")
    os.makedirs(src)
    stream = spark.readStream.schema(f"k {key_type}").option("maxFilesPerTrigger", "1").json(src)
    counted = running_count(stream, "k")
    assert [(f.name, f.dataType.simpleString()) for f in counted.schema] == [("key", "string"), ("cnt", "bigint")]

    got: dict[int, list[tuple]] = {}

    def capture(df, batch_id):
        got[batch_id] = sorted(map(tuple, df.collect()), key=repr)

    q = (
        counted.writeStream.outputMode("append").foreachBatch(capture)
        .option("checkpointLocation", os.path.join(work, "ckpt")).start()
    )
    try:
        for i, batch in enumerate(batches):
            with open(os.path.join(src, f"{i:03d}.json"), "w") as f:
                f.writelines(json.dumps({"k": k}) + "\n" for k in batch)
            q.processAllAvailable()
    finally:
        q.stop()
    return [got[b] for b in sorted(got)]


def assert_kernel_matches_reference(spark, work: str) -> None:
    """Both key types, every batch; and the jar is registered with this
    context (so its tasks can fetch it on a cluster)."""
    for key_type, batches in (("string", STRING_BATCHES), ("bigint", BIGINT_BATCHES)):
        got = emitted_per_batch(spark, os.path.join(work, key_type), batches, key_type)
        assert got == expected_emissions(batches), (key_type, got)
    jars = spark.sparkContext._jsc.sc().listJars().mkString("\n")
    assert "/" + os.path.basename(JAR) in jars, jars


def test_running_count_per_batch_matches_python(spark, tmp_path):
    assert_kernel_matches_reference(spark, str(tmp_path))


def test_running_count_vanilla_session_second_context_second_jvm(tmp_path):
    """``__spark_entry__`` callers build their own vanilla session (never
    ``get_spark``), and ``perfbench`` restarts JVMs mid-run: the loader
    must work on a plain session, again on a new context after
    ``stop()`` on the same JVM, and again on a fresh JVM. Runs in a
    subprocess so stopping contexts cannot touch the suite's session."""
    code = f"""
import sys
sys.path.insert(0, {ROOT!r})
from pyspark import SparkContext
from pyspark.sql import SparkSession
from tests.test_jvm_kernels import assert_kernel_matches_reference

def vanilla():
    s = (SparkSession.builder.master("local[2]").appName("sbs-kernel")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    return s, s.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

spark, pid1 = vanilla()
assert_kernel_matches_reference(spark, {str(tmp_path / "first")!r})
spark.stop()
spark, pid2 = vanilla()
assert pid2 == pid1, "expected a second context on the same JVM"
assert_kernel_matches_reference(spark, {str(tmp_path / "second_context")!r})
spark.stop()
gw = SparkContext._gateway
gw.shutdown()
gw.proc.stdin.close()
gw.proc.wait(timeout=60)
SparkContext._gateway = SparkContext._jvm = None
spark, pid3 = vanilla()
assert pid3 != pid1, "expected a fresh JVM"
assert_kernel_matches_reference(spark, {str(tmp_path / "second_jvm")!r})
spark.stop()
print("KERNEL_OK")
"""
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert "KERNEL_OK" in r.stdout, (r.stdout[-2000:], r.stderr[-3000:])


def _class_entries(jar: str) -> dict[str, bytes]:
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK (javac) to rebuild the kernels")
def test_committed_jar_matches_java_source(tmp_path):
    """The committed jar is what ``scripts/build_jvm.py`` makes from the
    committed ``.java`` sources today. Class bytes are compared, not jar
    bytes, so zip metadata cannot mask or fake a difference."""
    rebuilt = str(tmp_path / "kernels.jar")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "build_jvm.py"), "--jar", rebuilt],
        check=True, capture_output=True, timeout=300,
    )
    fresh, committed = _class_entries(rebuilt), _class_entries(JAR)
    assert fresh, "the build produced no classes"
    assert sorted(fresh) == sorted(committed)
    stale = [n for n in fresh if fresh[n] != committed[n]]
    assert not stale, f"rerun scripts/build_jvm.py and commit the jar: {stale} differ from the source"
