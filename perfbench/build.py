#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the harness.

Usage: python3 perfbench/build.py   (from the root of a checkout)

The engine (`src/main/scala`, plus `src/main/resources`) and the harness
(`perfbench/src`) are compiled with the Scala compiler that ships in the
Spark jars, against those jars: the directory `build.sbt` names as its
`unmanagedBase`. sbt is not involved. Output goes to
`.bench_build/cp-<hash>/`, where the hash covers every source file and this
script, so an unchanged tree is built once. Prints the runtime classpath.
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """The jar directory `build.sbt` compiles against (its `unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def sources(root):
    engine = sorted((root / "src/main/scala").rglob("*.scala"))
    harness = sorted((root / "perfbench/src").rglob("*.scala"))
    resources = sorted(p for p in (root / "src/main/resources").rglob("*") if p.is_file())
    return engine, harness, resources


def tree_hash(root, files):
    h = hashlib.sha256()
    for p in files + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(root) if p.is_relative_to(root) else p.name).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, files, log):
    out.mkdir(parents=True)
    args = out.parent / f"{out.name}.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out.parent}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", str(out), "-classpath", classpath, f"@{args}"]
    with open(log, "ab") as fh:
        subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, check=True)


def build(root):
    """Returns the runtime classpath, compiling first if the tree changed."""
    root = Path(root).resolve()
    engine, harness, resources = sources(root)
    if not engine:
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    if not harness:
        raise SystemExit(f"no harness sources under {root}/perfbench/src")
    jars = spark_jars(root)
    if not jars.is_dir():
        raise SystemExit(f"Spark jars not found at {jars}")
    key = tree_hash(root, engine + harness + resources + [root / "build.sbt"])
    base = root / BUILD_DIR
    out = base / f"cp-{key}"
    classpath = f"{out}/engine:{out}/harness:{jars}/*"
    if (out / "DONE").exists():
        return classpath
    tmp = base / f"cp-{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log = tmp / "build.log"
    try:
        scalac(jars, tmp / "engine", f"{jars}/*", engine, log)
        for r in resources:
            dst = tmp / "engine" / r.relative_to(root / "src/main/resources")
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(r, dst)
        scalac(jars, tmp / "harness", f"{tmp}/engine:{jars}/*", harness, log)
    except subprocess.CalledProcessError:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        raise SystemExit("build failed")
    (tmp / "DONE").write_text(key + "\n")
    for old in base.glob("cp-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return classpath


if __name__ == "__main__":
    print(build(Path.cwd()))
