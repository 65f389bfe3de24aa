"""Build of the benchmark's JVM side and its inputs, into one directory.

`Build.ensure` compiles the engine's sources (`src/main/scala`) and the
benchmark's own Scala (`perfbench/src`) with scalac from the Spark jars
under $SPARK_HOME (the repository's sbt build is neither used nor edited),
writes the batch fixtures and computes the DuckDB oracle's expected results.
It redoes all of it when a source file changed. `Build.pool_of` writes a
stream workload's event pool on first use.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import fixtures
import oracle
import staging

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        fail("no Spark jars found; set SPARK_HOME")
    return jars


def sources(root, sub):
    return sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True))


def stamp(root):
    h = hashlib.sha256()
    for p in sources(root, "src/main/scala") + sources(root, "perfbench/src") + [
            os.path.join(HERE, f) for f in ("build.py", "fixtures.py", "staging.py", "oracle.py")]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sh(cmd, log, timeout, env=None):
    """Run `cmd`, its output to `log`; kill it on timeout and wait for it."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"{' '.join(cmd[:3])} ... failed ({code}); log tail:\n{tail}")


class Build:
    def __init__(self, root, bdir):
        self.root, self.dir = root, bdir
        self.jars = spark_jars()
        self.engine = os.path.join(bdir, "engine")
        self.bench = os.path.join(bdir, "bench")
        self.fixtures = os.path.join(bdir, "fixtures")
        self.pool = os.path.join(bdir, "pool")
        self.expected = os.path.join(bdir, "expected")
        self.tmp = os.path.join(bdir, "tmp")

    def java(self, work):
        """The benchmark JVM. It starts with its whole heap, which keeps the
        collector's resizing out of the timings."""
        cp = ":".join([self.bench, self.engine] + self.jars)
        opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        return ["java"] + opens + [
            "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={self.tmp}",
            f"-Dderby.stream.error.file={work}/derby.log", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Main"]

    def env(self, work):
        return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))

    def scalac(self, out, classpath, srcs, log):
        os.makedirs(out)
        sh(["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(self.jars), "scala.tools.nsc.Main",
            "-nowarn", "-d", out, "-classpath", ":".join(classpath)] + srcs, log, BUILD_TIMEOUT_S)

    def ensure(self, queries):
        """Build unless the sources are unchanged; `queries` are the batch
        queries whose oracle results the checks need."""
        want = stamp(self.root)
        stamp_file = os.path.join(self.dir, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return
        t0 = time.time()
        for d in (self.engine, self.bench, self.fixtures, self.pool, self.expected, self.tmp):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.tmp)
        logs = os.path.join(self.dir, "logs")
        os.makedirs(logs, exist_ok=True)
        self.scalac(self.engine, self.jars, sources(self.root, "src/main/scala"),
                    os.path.join(logs, "scalac-engine.log"))
        self.scalac(self.bench, [self.engine] + self.jars, sources(self.root, "perfbench/src"),
                    os.path.join(logs, "scalac-bench.log"))
        fixtures.write_all(self.fixtures, 0.1)
        work = os.path.join(self.dir, "build-work")
        os.makedirs(work, exist_ok=True)
        sqls = os.path.join(work, "oracle_sql.json")
        sh(self.java(work) + ["oracle-sql", sqls] + queries,
           os.path.join(logs, "oracle-sql.log"), BUILD_TIMEOUT_S, self.env(work))
        with open(sqls) as f:
            oracle.expected(self.fixtures, json.load(f), self.expected)
        shutil.rmtree(work)
        with open(stamp_file, "w") as f:
            f.write(want)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)

    def pool_of(self, workload):
        """The stream event pool of `workload`, written on its first run."""
        d = os.path.join(self.pool, workload)
        done = os.path.join(self.pool, workload + ".done")
        if not os.path.exists(done):
            shutil.rmtree(d, ignore_errors=True)
            p = staging.POOLS[workload]
            work = os.path.join(self.dir, "pool-work")
            os.makedirs(work, exist_ok=True)
            sh(self.java(work) + ["pool", d, str(p["first_id"]), str(p["files"]),
                                  str(p["events"]), work],
               os.path.join(self.dir, "logs", f"pool-{workload}.log"), BUILD_TIMEOUT_S,
               self.env(work))
            shutil.rmtree(work)
            open(done, "w").close()
        return d
