#!/usr/bin/env python
"""Compile the engine's JVM kernels into the jar that ships in the package.

Usage:
    python scripts/build_jvm.py [--jar PATH]

Compiles every ``storm_bench_spark/jvm/*.java`` with ``javac --release 17``
against the installed pyspark's ``jars/`` in a temporary directory and packs
the classes into ``--jar`` (default: the committed
``storm_bench_spark/jvm/storm-bench-kernels.jar``). Rerun it after editing a
``.java`` file and commit the jar with the source: nothing compiles at run
time, and ``tests/test_jvm_kernels.py`` fails while the two differ. Entries
are written sorted with a fixed timestamp, so the same classes give the same
jar bytes.
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT]

from storm_bench_spark.jvm import JAR  # noqa: E402

MANIFEST = b"Manifest-Version: 1.0\r\nCreated-By: scripts/build_jvm.py\r\n\r\n"
ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def build(jar: str) -> int:
    """javac the kernel sources and write ``jar``; returns the class count."""
    import pyspark

    spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    sources = sorted(glob.glob(os.path.join(os.path.dirname(JAR), "*.java")))
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", spark_jars, "-d", classes, *sources],
            check=True,
        )
        names = sorted(
            os.path.relpath(p, classes).replace(os.sep, "/")
            for p in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)
        )
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", ZIP_EPOCH), MANIFEST)
            for name in names:
                with open(os.path.join(classes, name), "rb") as f:
                    z.writestr(zipfile.ZipInfo(name, ZIP_EPOCH), f.read(), zipfile.ZIP_DEFLATED)
    return len(names)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--jar", default=JAR)
    a = p.parse_args(argv)
    print(f"{a.jar}: {build(a.jar)} classes")


if __name__ == "__main__":
    main()
