#!/usr/bin/env python3
"""Builds graft and the benchmark with scalac, without sbt.

graft's sources (src/main/scala of the checkout) and the benchmark's own
sources (perfbench/src) compile into perfbench/.build, each keyed by a hash of
its inputs so an unchanged tree is not rebuilt. The Spark and Scala jars come
from the directory the root build.sbt names as `unmanagedBase`.

    python3 perfbench/build.py        # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".build"


class BuildError(Exception):
    pass


def jar_dir():
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"no build.sbt at {ROOT}: run from a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    d = Path(m.group(1))
    if not d.is_dir():
        raise BuildError(f"jar directory {d} from build.sbt does not exist")
    return d


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars, classpath, srcs, dest):
    """Compiles `srcs` into a fresh `dest` (replaced only on success)."""
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"scala-{n}-2.13*.jar"))) for n in ("compiler", "library", "reflect")]
    argfile = tmp.parent / (dest.name + ".args")
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(classpath), "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {dest.name}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def build():
    """Returns the classpath (a list) to run perfbench.Main with."""
    jars = jar_dir()
    spark = sorted(str(j) for j in jars.glob("*.jar"))
    main_src = sources(ROOT / "src" / "main" / "scala")
    if not main_src:
        raise BuildError(f"no graft sources under {ROOT / 'src' / 'main' / 'scala'}")
    bench_src = sources(BENCH / "src")
    OUT.mkdir(exist_ok=True)
    graft_key = digest(main_src + [ROOT / "build.sbt"])
    bench_key = digest(bench_src, graft_key)
    steps = [("graft", graft_key, main_src, spark),
             ("bench", bench_key, bench_src, [str(OUT / "graft")] + spark)]
    for name, key, srcs, cp in steps:
        dest, stamp = OUT / name, OUT / f"{name}.key"
        if stamp.is_file() and stamp.read_text() == key and dest.is_dir():
            continue
        stamp.unlink(missing_ok=True)
        scalac(jars, cp, srcs, dest)
        stamp.write_text(key)
    return [str(OUT / "bench"), str(OUT / "graft"), str(jars / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
