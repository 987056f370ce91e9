"""Build, or check, the package's JVM jar.

    python tools_build_jvm.py           # rebuild big_data_table_spark/jvm/nofork-localfs.jar
    python tools_build_jvm.py --check   # exit 1 if the jar's classes differ from a fresh compile

Compiles ``big_data_table_spark/jvm/*.java`` with ``javac --release 8``
against pyspark's bundled jars.  The jar is a plain zip with fixed entry
times, so the same classes give the same bytes.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

import pyspark

JVM_DIR = Path(__file__).resolve().parent / "big_data_table_spark" / "jvm"
JAR = JVM_DIR / "nofork-localfs.jar"


def compile_classes() -> dict[str, bytes]:
    """``{entry name: class bytes}`` of a fresh compile of the sources."""
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "8", "-nowarn", "-cp", classpath, "-d", out,
             *sorted(str(p) for p in JVM_DIR.glob("*.java"))],
            check=True,
        )
        return {
            p.relative_to(out).as_posix(): p.read_bytes()
            for p in sorted(Path(out).rglob("*.class"))
        }


def jar_classes(jar: Path) -> dict[str, bytes]:
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


def write_jar(classes: dict[str, bytes], jar: Path) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in sorted(classes.items()):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, data)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="compare a fresh compile with the committed jar")
    args = ap.parse_args()
    classes = compile_classes()
    if not args.check:
        write_jar(classes, JAR)
        print(f"wrote {JAR} ({JAR.stat().st_size} bytes, {len(classes)} classes)")
        return 0
    committed = jar_classes(JAR)
    if committed == classes:
        print(f"{JAR.name}: {len(classes)} classes match the sources")
        return 0
    for name in sorted(committed.keys() | classes.keys()):
        if committed.get(name) != classes.get(name):
            print(f"{JAR.name}: {name} differs from a fresh compile", file=sys.stderr)
    return 1


if __name__ == "__main__":
    sys.exit(main())
