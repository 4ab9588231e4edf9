#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the benchmark's own
JVM program from source with the Scala compiler that ships in Spark's jars.

Usage: python3 perfbench/build.py        (from the repository root)

Output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) inside the
checkout: `engine.jar` holds the classes and resources of `src/main`,
`bench.jar` the classes of `perfbench/src`. Each jar is rebuilt only when
the hash of its sources changes. After a rebuild, one short training run
records the classes Spark loads into a class-data-sharing archive
(`app.jsa`), which every benchmark JVM maps at start.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

SPARK_HOME = Path(os.environ.get("SPARK_HOME", "/opt/spark"))
SCALA_VERSION = "2.13.17"
TRAIN_FIXTURES = Path("/root/testdata/sf0.01")
HEAP = "4g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def target_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def spark_jars():
    jars = sorted((SPARK_HOME / "jars").glob("*.jar"))
    if not jars:
        raise SystemExit(f"no Spark jars under {SPARK_HOME}/jars")
    return jars


def sources_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(sources, classpath, out_dir):
    jars = SPARK_HOME / "jars"
    compiler_cp = ":".join(
        str(jars / f"scala-{p}-{SCALA_VERSION}.jar") for p in ("compiler", "library", "reflect")
    )
    cmd = [
        "java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
        "-nowarn", "-classpath", classpath, "-d", str(out_dir),
    ] + [str(s) for s in sources]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"compilation of {out_dir.name} failed")


def build_jar(name, sources, resource_root, classpath, target, salt=""):
    """Compile sources (plus the files under resource_root) into
    target/name.jar unless their hash is unchanged. Returns (jar, rebuilt)."""
    if not sources:
        raise SystemExit(f"no Scala sources for {name}")
    resources = sorted(p for p in resource_root.rglob("*") if p.is_file()) if resource_root else []
    digest = sources_hash(sources + resources) + salt
    jar = target / f"{name}.jar"
    stamp = target / f"{name}.stamp"
    if jar.exists() and stamp.exists() and stamp.read_text() == digest:
        return jar, False
    classes = target / f"{name}-classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    scalac(sources, classpath, classes)
    tmp = target / f"{name}.jar.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
        for r in resources:
            z.write(r, r.relative_to(resource_root).as_posix())
    shutil.rmtree(classes)
    tmp.replace(jar)
    stamp.write_text(digest)
    return jar, True


def java_command(classpath, work, archive=None, record_archive=None):
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if archive is not None:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    if record_archive is not None:
        cmd.append(f"-XX:ArchiveClassesAtExit={record_archive}")
    # the serial collector keeps garbage collection on one thread;
    # -UsePerfData stops the JVM writing its counters under /tmp
    return cmd + [
        "-XX:+UseSerialGC", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={Path(work) / 'tmp'}", "-cp", classpath, "graftbench.BenchMain",
    ]


def train_archive(classpath, target):
    """Record the class-data-sharing archive with a short run over both the
    query and the streaming path. A failure leaves the benchmark working,
    only without the archive."""
    archive = target / "app.jsa"
    archive.unlink(missing_ok=True)
    work = target / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    sf = work / "sf"
    shutil.copytree(TRAIN_FIXTURES, sf)
    (work / "inject.txt").write_text("1,2")
    cmd = java_command(classpath, work, record_archive=archive) + [
        "--work-dir", str(work), "--sf-dir", str(sf), "--cpus", "1", "--setup-reps", "1",
        "--workload", "train", "--rounds", "1", "--warmup", "0", "--trace", "0", "--seed", "1", "--events", "2000",
        "--inject", str(work / "inject.txt"), "--mix", "q_approx_distinct,q_source_pipeline,q_sim_topk",
    ]
    try:
        with open(target / "train.log", "w") as log:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=300).returncode
    except subprocess.TimeoutExpired:
        rc = -1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not archive.exists():
        archive.unlink(missing_ok=True)
        print(f"class-data-sharing archive not recorded; see {target / 'train.log'}", file=sys.stderr)


def build():
    """Build what is stale; return (class path, archive path or None)."""
    target = target_dir()
    target.mkdir(parents=True, exist_ok=True)
    spark_cp = ":".join(str(j) for j in spark_jars())
    engine_src = sorted(Path("src/main/scala").rglob("*.scala"))
    engine, rebuilt_engine = build_jar("engine", engine_src, Path("src/main/resources"), spark_cp, target)
    bench_src = sorted(Path(__file__).resolve().parent.joinpath("src").glob("*.scala"))
    bench, rebuilt_bench = build_jar(
        "bench", bench_src, None, f"{engine}:{spark_cp}", target,
        salt=(target / "engine.stamp").read_text(),
    )
    classpath = f"{bench}:{engine}:{spark_cp}"
    archive = target / "app.jsa"
    untried = not archive.exists() and not (target / "train.log").exists()
    if (rebuilt_engine or rebuilt_bench or untried) and TRAIN_FIXTURES.is_dir():
        train_archive(classpath, target)
    return classpath, (archive if archive.exists() else None)


if __name__ == "__main__":
    print(build()[0])
