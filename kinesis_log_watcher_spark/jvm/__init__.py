"""The in-repo JVM code: ``PayloadScan.java``, built by the local JDK and
loaded into a session as the SQL function ``klw_payload``.

No binary is committed: the jar is compiled on first use against the
Spark jars the session runs (``$SPARK_HOME/jars``, else pyspark's), and
cached under the user cache dir (``$XDG_CACHE_HOME`` or ``~/.cache``) by
the sha256 of the source plus the names of those jars, which carry the
Spark, Jackson and Scala versions, so a later process loads it without
compiling.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
import weakref
import zipfile
from pathlib import Path

import pyspark
from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, StringType

SOURCE = Path(__file__).with_name("PayloadScan.java")
CLASS = "klw.PayloadScan"
FUNCTION = "klw_payload"

# The jars the source compiles against: javac takes about half the time
# it takes with the whole jars/ directory on its classpath.
_CLASSPATH_GLOBS = (
    "jackson-core-*.jar",
    "spark-catalyst_*.jar",
    "spark-sql-api_*.jar",
    "spark-common-utils_*.jar",
    "scala-library-*.jar",
)

# Sessions that have the function: registration is per session, and a
# catalog lookup per plan would cost a py4j round trip each time.
_loaded: weakref.WeakSet[SparkSession] = weakref.WeakSet()
_lock = threading.Lock()


def cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "kinesis_log_watcher_spark"


def cache_key(source: bytes) -> str:
    """sha256 of the source and of the jar names it compiles against."""
    jars = "\n".join(os.path.basename(p) for p in _classpath().split(os.pathsep))
    return hashlib.sha256(source + b"\0" + jars.encode()).hexdigest()


def _javac(java_home: str | None) -> str:
    for home in (java_home, os.environ.get("JAVA_HOME")):
        if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
            return os.path.join(home, "bin", "javac")
    found = shutil.which("javac")
    if found is None:
        raise RuntimeError(
            f"compiling {SOURCE.name} needs a JDK: no javac in the JVM's "
            "JAVA_HOME or on PATH (a JRE has only java)"
        )
    return found


def _classpath() -> str:
    jars = os.path.join(os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "jars")
    return os.pathsep.join(p for g in _CLASSPATH_GLOBS for p in glob.glob(os.path.join(jars, g)))


def build_jar(cache: Path | None = None, java_home: str | None = None) -> Path:
    """The cached jar for the current source, compiled on a cache miss."""
    source = SOURCE.read_bytes()
    cache = cache or cache_dir()
    jar = cache / f"payloadscan-{cache_key(source)}.jar"
    if jar.exists():
        return jar
    javac = _javac(java_home)
    cache.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        src = Path(tmp, SOURCE.name)
        src.write_bytes(source)
        classes = Path(tmp, "classes")
        done = subprocess.run(
            [javac, "-nowarn", "-d", str(classes), "-cp", _classpath(), str(src)],
            capture_output=True, text=True,
        )
        if done.returncode != 0:
            raise RuntimeError(f"javac failed on {SOURCE.name}:\n{done.stderr}")
        part = Path(tmp, "part.jar")
        with zipfile.ZipFile(part, "w") as zf:
            for cls in sorted(classes.rglob("*.class")):
                zf.write(cls, cls.relative_to(classes).as_posix())
        os.replace(part, jar)
    return jar


def ensure_payload_function(spark: SparkSession) -> None:
    """Register ``klw_payload`` in ``spark`` once: add the jar (which also
    makes the class loadable from this thread), then
    ``registerJavaFunction``. Sessions from ``newSession()`` start
    without it; cloned sessions (streaming micro-batches) inherit it.

    The jar goes through the session's resource loader, the call the
    ``ADD JAR`` command makes: ``spark.sql`` would also initialize the
    SQL parser, ~2 s on the first statement of a session that may
    never run another."""
    with _lock:
        if spark in _loaded:
            return
        java_home = spark.sparkContext._jvm.System.getProperty("java.home")
        jar = build_jar(java_home=java_home)
        spark._jsparkSession.sessionState().resourceLoader().addJar(str(jar))
        spark.udf.registerJavaFunction(FUNCTION, CLASS, ArrayType(StringType()))
        _loaded.add(spark)
