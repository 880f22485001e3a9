#!/usr/bin/env python3
"""Build the engine with the benchmark harness and run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload vendor_tick --seed 1 --seconds 10 --trace 0

The first call compiles the engine (src/main/scala) and the harness
(perfbench/src/main/scala) with sbt into .bench_build/ and records the
runtime classpath; later calls reuse it unless a source file changed.
The harness then runs in its own JVM. Its last stdout line is the JSON
result. Extra arguments (--data, --expected, --record) pass through to
perfbench.Main.
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "sbt-target", "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha1")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of every build input: paths, sizes and modification times."""
    h = hashlib.sha1()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    for root in roots:
        for d, dirs, files in os.walk(root):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")):
        h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compiles unless the last build had the same sources; returns
    their digest."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) \
            and open(STAMP).read() == digest:
        return digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {res.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)
    return digest


def main():
    args = sys.argv[1:]
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources under {ENGINE_SRC}; run from the checkout root")
    digest = build()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # Class data sharing: the first run of a build archives the classes it
    # loaded, later runs map them in instead of loading the jars again.
    cds = os.path.join(BUILD, f"classes-{digest[:12]}.jsa")
    if os.path.exists(cds):
        cmd += [f"-XX:SharedArchiveFile={cds}"]
    else:
        for old in glob.glob(os.path.join(BUILD, "classes-*.jsa")):
            os.remove(old)
        cmd += [f"-XX:ArchiveClassesAtExit={cds}"]
    # JVM warnings go to stderr, so the last stdout line stays the result;
    # notes about classes the archive skips are dropped.
    cmd += ["-Xlog:disable", "-Xlog:all=warning:stderr",
            "-Xlog:cds=off:stderr", "-Xlog:cds+dynamic=off:stderr"]
    cmd += [
        # A fixed heap and young generation: peak RSS then follows what
        # the program keeps live, not the collector's sizing decisions.
        "-Xms2g", "-Xmx2g", "-Xmn512m",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", open(CLASSPATH).read().strip(),
        "perfbench.Main",
    ] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.stdout.write(out)
    sys.stdout.flush()
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if proc.returncode != 0 or not last.startswith("{"):
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
