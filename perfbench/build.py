#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources (src/main/scala)
together with the benchmark harness (perfbench/harness) into one class
directory, with the Scala compiler that ships among the Spark jars.

    python3 perfbench/build.py          # prints the class directory

The output lives under .bench_build/perfbench/ (or $CARGO_TARGET_DIR/perfbench/)
and is reused while no source file changes. Run from the repository root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def build_dir() -> Path:
    return (ROOT / os.environ.get('CARGO_TARGET_DIR', '.bench_build')) / 'perfbench'


def spark_jars() -> Path:
    """SPARK_HOME/jars, else the unmanagedBase the project's build.sbt names."""
    if os.environ.get('SPARK_HOME'):
        return Path(os.environ['SPARK_HOME']) / 'jars'
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / 'build.sbt').read_text())
    if not m:
        sys.exit('build: cannot locate the Spark jars (set SPARK_HOME)')
    return Path(m.group(1))


def sources() -> list:
    main = ROOT / 'src' / 'main' / 'scala'
    if not main.is_dir():
        sys.exit(f'build: {main.relative_to(ROOT)} not found; run from a graft checkout')
    files = sorted(main.rglob('*.scala')) + sorted((HERE / 'harness').rglob('*.scala'))
    return [str(f) for f in files]


def classpath(classes: Path) -> str:
    return f'{classes}{os.pathsep}{spark_jars()}/*'


def build() -> Path:
    out = build_dir()
    classes = out / 'classes'
    srcs = sources()
    h = hashlib.sha256(str(spark_jars()).encode())
    for f in srcs:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    stamp = out / 'classes.stamp'
    if stamp.exists() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = f'{spark_jars()}/*'
    cmd = ['java', '-Xss8m', '-Xmx2g', '-XX:-UsePerfData', '-cp', jars, 'scala.tools.nsc.Main',
           '-classpath', jars, '-d', str(classes), '-nowarn', *srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f'build: scalac failed with code {r.returncode}')
    stamp.write_text(h.hexdigest())
    return classes


if __name__ == '__main__':
    print(build())
