"""The in-repo JVM code: every ``*.java`` in this directory, built by the
local JDK into one jar and loaded once per SparkContext as three
Spark UDFs, which ``call`` puts into Columns:

- ``klw_payload`` (``PayloadScan.java``): the template's one parse of
  the ``.Log`` payload;
- ``klw_short_host`` (``ShortHost.java``): ShortHostId from the
  partition key's bytes;
- ``klw_local_time`` (``LocalTime.java``): the text of a
  timestamp-to-string cast, from epoch micros and a zone ID.

No binary is committed: the jar is compiled on first use against the
Spark jars the session runs (``$SPARK_HOME/jars``, else pyspark's), and
cached under the user cache dir (``$XDG_CACHE_HOME`` or ``~/.cache``) by
the sha256 of the sources plus the names of those jars, which carry the
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
from py4j.java_gateway import JavaObject, get_java_class
from pyspark import SparkContext
from pyspark.sql import Column, SparkSession
from pyspark.sql.classic.column import _to_java_column, _to_seq
from pyspark.sql.types import ArrayType, BinaryType, DataType, StringType

SOURCE_DIR = Path(__file__).parent

PAYLOAD = "klw_payload"
SHORT_HOST = "klw_short_host"
LOCAL_TIME = "klw_local_time"

# UDF name (as plans print it) -> (class, return type).
FUNCTIONS: dict[str, tuple[str, DataType]] = {
    PAYLOAD: ("klw.PayloadScan", ArrayType(StringType())),
    SHORT_HOST: ("klw.ShortHost", BinaryType()),
    LOCAL_TIME: ("klw.LocalTime", BinaryType()),
}

# The jars the sources compile against: javac takes about half the time
# it takes with the whole jars/ directory on its classpath.
_CLASSPATH_GLOBS = (
    "jackson-core-*.jar",
    "spark-catalyst_*.jar",
    "spark-sql-api_*.jar",
    "spark-common-utils_*.jar",
    "scala-library-*.jar",
)

# SparkContext -> {function name: its Java UserDefinedFunction}. The jar
# is added once per SparkContext; every session of that context can run
# the functions, because the plan carries them.
_loaded: weakref.WeakKeyDictionary[SparkContext, dict[str, JavaObject]] = (
    weakref.WeakKeyDictionary()
)
_lock = threading.Lock()


def cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "kinesis_log_watcher_spark"


def sources() -> dict[str, bytes]:
    """Every ``*.java`` in ``SOURCE_DIR``, by file name, in name order."""
    return {p.name: p.read_bytes() for p in sorted(SOURCE_DIR.glob("*.java"))}


def cache_key(srcs: dict[str, bytes]) -> str:
    """sha256 of the sources (sorted names and their bytes) and of the
    jar names they compile against."""
    h = hashlib.sha256()
    for name in sorted(srcs):
        h.update(name.encode() + b"\0" + srcs[name] + b"\0")
    for jar in _classpath().split(os.pathsep):
        h.update(os.path.basename(jar).encode() + b"\n")
    return h.hexdigest()


def _javac(java_home: str | None) -> str:
    for home in (java_home, os.environ.get("JAVA_HOME")):
        if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
            return os.path.join(home, "bin", "javac")
    found = shutil.which("javac")
    if found is None:
        raise RuntimeError(
            f"compiling the Java sources in {SOURCE_DIR} needs a JDK: no javac "
            "in the JVM's JAVA_HOME or on PATH (a JRE has only java)"
        )
    return found


def _classpath() -> str:
    jars = os.path.join(os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "jars")
    return os.pathsep.join(p for g in _CLASSPATH_GLOBS for p in glob.glob(os.path.join(jars, g)))


def build_jar(cache: Path | None = None, java_home: str | None = None) -> Path:
    """The cached jar for the current sources, compiled on a cache miss
    by one ``javac`` call over all of them."""
    srcs = sources()
    cache = cache or cache_dir()
    jar = cache / f"klw-{cache_key(srcs)}.jar"
    if jar.exists():
        return jar
    javac = _javac(java_home)
    cache.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        files = [Path(tmp, name) for name in srcs]
        for f in files:
            f.write_bytes(srcs[f.name])
        classes = Path(tmp, "classes")
        done = subprocess.run(
            [javac, "-nowarn", "-d", str(classes), "-cp", _classpath(), *map(str, files)],
            capture_output=True, text=True,
        )
        if done.returncode != 0:
            raise RuntimeError(f"javac failed on {', '.join(srcs)}:\n{done.stderr}")
        part = Path(tmp, "part.jar")
        with zipfile.ZipFile(part, "w") as zf:
            for cls in sorted(classes.rglob("*.class")):
                zf.write(cls, cls.relative_to(classes).as_posix())
        os.replace(part, jar)
    return jar


def ensure_functions(spark: SparkSession) -> dict[str, JavaObject]:
    """The three functions as Java ``UserDefinedFunction`` objects, built
    once per SparkContext: add the jar, load each class from the shared
    jar class loader (so any thread can, a foreachBatch callback's
    included), and wrap an instance with ``functions.udf``.

    The jar goes through the session's resource loader, the call the
    ``ADD JAR`` command makes, which ships it to the executors:
    ``spark.sql`` would also initialize the SQL parser, ~2 s on the
    first statement of a session that may never run another."""
    sc = spark.sparkContext
    with _lock:
        if sc in _loaded:
            return _loaded[sc]
        jar = build_jar(java_home=sc._jvm.System.getProperty("java.home"))
        js = spark._jsparkSession
        js.sessionState().resourceLoader().addJar(str(jar))
        loader = js.sharedState().jarClassLoader()
        gw = sc._gateway
        functions = get_java_class(gw.jvm.org.apache.spark.sql.functions)
        udfs = {}
        for name, (cls, return_type) in FUNCTIONS.items():
            fn = loader.loadClass(cls).getDeclaredConstructor(
                gw.new_array(gw.jvm.java.lang.Class, 0)
            ).newInstance(gw.new_array(gw.jvm.java.lang.Object, 0))
            # ``udf(UDFn, DataType)`` by reflection: py4j would pick the
            # untyped ``udf(Object, DataType)``, which Spark refuses.
            params = gw.new_array(gw.jvm.java.lang.Class, 2)
            params[0] = fn.getClass().getInterfaces()[0]
            params[1] = get_java_class(gw.jvm.org.apache.spark.sql.types.DataType)
            args = gw.new_array(gw.jvm.java.lang.Object, 2)
            args[0] = fn
            args[1] = js.parseDataType(return_type.json())
            udfs[name] = functions.getMethod("udf", params).invoke(None, args).withName(name)
        _loaded[sc] = udfs
        return udfs


def call(name: str, *cols: Column) -> Column:
    """``name(*cols)`` as a Column that carries the function itself, so
    it runs in whichever session analyzes the plan (a bare
    session, a ``newSession()`` one) with no registration there."""
    spark = SparkSession.active()
    udf = ensure_functions(spark)[name]
    return Column(udf.apply(_to_seq(spark.sparkContext, cols, _to_java_column)))
