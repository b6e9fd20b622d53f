#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jar directory (the one build.sbt compiles against), into the build
directory of the checkout, packs
both into jars, and records a class-data-sharing archive of one training
run so that every benchmark JVM starts with its classes already parsed.

    python3 perfbench/build.py            # prints the run classpath

A step is skipped while the digest of its inputs matches the stamp left
by the previous one.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

JAVA_OPTS = ["-Xss8m", "-Xlog:disable", "-Xlog:all=warning:stderr"]


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt names (unmanagedBase)."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
        if m is None:
            raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler under {jars}")
    return jars


def sources(src):
    return sorted(src.rglob("*.scala"))


def digest(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def fresh(out, name, want):
    stamp = out / f"{name}.stamp"
    return stamp.is_file() and stamp.read_text() == want


def compile_tree(root, out, name, src, classpath):
    """Compile `src` into out/<name>.jar; return the jar."""
    files = sources(src)
    if not files:
        raise SystemExit(f"perfbench: no sources under {src}")
    jar = out / f"{name}.jar"
    want = digest(files, root) + "\n" + ":".join(classpath)
    if jar.is_file() and fresh(out, name, want):
        return jar
    classes = out / name
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / f"{name}.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", *JAVA_OPTS, "-Xmx2g", "-cp", ":".join(classpath),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes),
           "@" + str(argfile)]
    print(f"perfbench: compiling {len(files)} files of {src.relative_to(root)}",
          file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    resources = src.parent / "resources"
    if resources.is_dir():
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    # class-data sharing archives classes from jars only
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    (out / f"{name}.stamp").write_text(want)
    return jar


def build(root, train=None):
    """Compile what changed; return (classpath, java options) for a run.

    `train(classpath, java_options)` runs one training JVM; the classes it
    loads become the class-data-sharing archive.
    """
    root = Path(root).resolve()
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out.mkdir(parents=True, exist_ok=True)
    jars = str(spark_jars(root) / "*")
    main = compile_tree(root, out, "main", root / "src" / "main" / "scala", [jars])
    bench = compile_tree(root, out, "bench", root / "perfbench" / "src", [jars, str(main)])
    classpath = [str(bench), str(main), jars]
    opts = list(JAVA_OPTS)
    if train is None:
        return classpath, opts
    archive = out / "classes.jsa"
    want = "\n".join([(out / "main.stamp").read_text(), (out / "bench.stamp").read_text()])
    if not (archive.is_file() and fresh(out, "classes", want)):
        archive.unlink(missing_ok=True)
        print("perfbench: recording the class-data-sharing archive", file=sys.stderr, flush=True)
        if train(classpath, opts + [f"-XX:ArchiveClassesAtExit={archive}"]) and archive.is_file():
            (out / "classes.stamp").write_text(want)
    if archive.is_file() and fresh(out, "classes", want):
        opts.append(f"-XX:SharedArchiveFile={archive}")
    return classpath, opts


if __name__ == "__main__":
    print(":".join(build(Path.cwd())[0]))
