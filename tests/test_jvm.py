"""The in-repo jar: every Java source built by one local javac call on a
cache miss, cached by the hash of all sources, and loadable by the
session's JVM."""

from __future__ import annotations

import shutil
import subprocess

import pytest

from kinesis_log_watcher_spark import jvm


@pytest.fixture
def javac_calls(monkeypatch):
    calls = []
    real = subprocess.run

    def spy(cmd, *args, **kwargs):
        calls.append(cmd)
        return real(cmd, *args, **kwargs)

    monkeypatch.setattr(jvm.subprocess, "run", spy)
    return calls


def _udf_interfaces(spark, jar):
    """{class: its interfaces}, each class loaded from ``jar`` alone (over
    Spark's own class loader, which has no added jars)."""
    gw = spark.sparkContext._gateway
    jvm_ = gw.jvm
    urls = gw.new_array(jvm_.java.net.URL, 1)
    urls[0] = jvm_.java.io.File(str(jar)).toURI().toURL()
    loader = jvm_.java.net.URLClassLoader(urls, jvm_.org.apache.spark.util.Utils.getSparkClassLoader())
    try:
        return {
            cls: [i.getName() for i in jvm_.java.lang.Class.forName(cls, True, loader).getInterfaces()]
            for cls, _ in jvm.FUNCTIONS.values()
        }
    finally:
        loader.close()


def test_cold_build_then_cache_hit(spark, tmp_path, javac_calls):
    jar = jvm.build_jar(tmp_path)
    assert len(javac_calls) == 1 and javac_calls[0][0].endswith("javac")
    # one javac call compiles every source
    assert sorted(a.rsplit("/", 1)[-1] for a in javac_calls[0] if a.endswith(".java")) == [
        "LocalTime.java", "PayloadScan.java", "ShortHost.java",
    ]
    assert jar.parent == tmp_path and jar.name == f"klw-{jvm.cache_key(jvm.sources())}.jar"
    assert [p.name for p in tmp_path.iterdir()] == [jar.name]  # no build leftovers
    udf = "org.apache.spark.sql.api.java.UDF"
    assert _udf_interfaces(spark, jar) == {
        "klw.PayloadScan": [udf + "2"],
        "klw.ShortHost": [udf + "1"],
        "klw.LocalTime": [udf + "2"],
    }

    assert jvm.build_jar(tmp_path) == jar
    assert len(javac_calls) == 1


def test_edited_source_changes_the_cache_key(tmp_path, monkeypatch, javac_calls):
    srcs = jvm.sources()
    keys = {jvm.cache_key({**srcs, name: text + b"\n"}) for name, text in srcs.items()}
    assert len(keys) == len(srcs) == 3 and jvm.cache_key(srcs) not in keys
    first = jvm.build_jar(tmp_path)
    copy = tmp_path / "src"
    shutil.copytree(jvm.SOURCE_DIR, copy, ignore=shutil.ignore_patterns("*.py", "__pycache__"))
    (copy / "ShortHost.java").write_bytes(srcs["ShortHost.java"] + b"// edited\n")
    monkeypatch.setattr(jvm, "SOURCE_DIR", copy)
    second = jvm.build_jar(tmp_path)
    assert second != first and first.exists() and second.exists()
    assert len(javac_calls) == 2


def test_missing_jdk_fails_loudly(tmp_path, monkeypatch):
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setenv("PATH", str(tmp_path))
    with pytest.raises(RuntimeError, match="needs a JDK"):
        jvm.build_jar(tmp_path / "cache", java_home=str(tmp_path))
