"""Rebuild the jar of the in-process-chmod ``file:`` FileSystem from its
committed Java source.

Usage: python tools/build_jvm.py

Compiles ``go_fluentd_spark/jvm/InProcessChmodFileSystem.java`` with
``javac --release 17`` against the installed pyspark's ``jars/`` and writes
``session.LOCAL_FS_JAR`` with fixed entry timestamps, so one source and one
JDK give the same bytes.  The jar's manifest stores the source's sha256 as
``Source-SHA256``; ``tests/test_local_fs.py`` compares it with the
committed source, so a source edit without a rebuild fails the tests.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from go_fluentd_spark.session import LOCAL_FS_CLASS, LOCAL_FS_JAR  # noqa: E402

#: the class's package is its directory under the repo root
SOURCE = os.path.join(ROOT, *LOCAL_FS_CLASS.split(".")) + ".java"
#: the source hash's manifest attribute
HASH_ATTR = "Source-SHA256"
#: every entry's timestamp (the earliest a zip can store)
ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def source_sha256() -> str:
    with open(SOURCE, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def jar_source_sha256(jar: str = LOCAL_FS_JAR) -> str | None:
    """The source hash stored in ``jar``'s manifest, ``None`` if absent."""
    with zipfile.ZipFile(jar) as z:
        manifest = z.read("META-INF/MANIFEST.MF").decode()
    for line in manifest.splitlines():
        key, _, value = line.partition(": ")
        if key == HASH_ATTR:
            return value
    return None


def _entry(name: str) -> zipfile.ZipInfo:
    info = zipfile.ZipInfo(name, ZIP_EPOCH)
    info.compress_type = zipfile.ZIP_DEFLATED
    info.external_attr = 0o644 << 16
    return info


def build(jar: str = LOCAL_FS_JAR) -> None:
    import pyspark

    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", classpath,
             "-d", out, SOURCE],
            check=True,
        )
        classes = sorted(
            os.path.relpath(os.path.join(d, f), out).replace(os.sep, "/")
            for d, _, fs in os.walk(out) for f in fs
        )
        manifest = f"Manifest-Version: 1.0\r\n{HASH_ATTR}: {source_sha256()}\r\n\r\n"
        with zipfile.ZipFile(jar, "w") as z:
            z.writestr(_entry("META-INF/MANIFEST.MF"), manifest)
            for name in classes:
                with open(os.path.join(out, name), "rb") as f:
                    z.writestr(_entry(name), f.read())


if __name__ == "__main__":
    build()
    print(os.path.relpath(LOCAL_FS_JAR, ROOT), jar_source_sha256())
