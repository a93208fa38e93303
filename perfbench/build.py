"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark program (perfbench/src) together with the Scala 2.13
compiler that ships in the Spark distribution, against the Spark jars
($SPARK_HOME/jars, else the jars of the installed pyspark package), the
same jars the repository's build.sbt compiles against. Output goes to .bench_build/classes-<hash>,
keyed by the hash of every source file, so an unchanged tree is never
rebuilt.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

# what spark-submit would pass to a JDK 17 Spark driver (build.sbt's jdk17AddOpens)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            sys.exit("no Spark distribution found; set SPARK_HOME")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"no Spark jars under '{jars}'; set SPARK_HOME")
    return jars


def digest(paths, root=None):
    h = hashlib.sha256()
    for p in paths:
        h.update((os.path.relpath(p, root) if root else os.path.basename(p)).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    return engine, bench


def ensure_built(root, out):
    """Compile once per source tree; returns (classes dir, source hash)."""
    engine, bench = sources(root)
    if not engine:
        sys.exit("no engine sources under src/main/scala")
    key = digest(engine + bench, root)
    classes = os.path.join(out, f"classes-{key[:16]}")
    if os.path.isdir(classes):
        return classes, key
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(engine + bench))
    print(f"[perfbench] compiling {len(engine)} engine + {len(bench)} benchmark sources",
          file=sys.stderr, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    # compiler output goes to stderr: stdout carries only the result line
    if subprocess.run(cmd, cwd=root, stdout=sys.stderr, timeout=800).returncode != 0:
        sys.exit("compilation failed")
    os.rename(tmp, classes)
    return classes, key


def java_cmd(classes, heap, tmp, log_config):
    """The benchmark JVM: local-mode Spark with every temp, scratch and
    warehouse path under `tmp`, and no JVM perf-data file elsewhere."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation keep peak RSS from following
    # the collector's sizing decisions run to run
    return ["java", *opens, "-XX:-UsePerfData",
            f"-Xms{heap}", f"-Xmx{heap}", "-Xmn768m", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm')}",
            f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(tmp, 'derby')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(tmp, 'hadoop')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Dlog4j2.configurationFile={log_config}",
            "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
            "graftbench.Main"]
