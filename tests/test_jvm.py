"""The payload-scan jar: built by the local javac on a cache miss, cached
by source hash, and loadable by the session's JVM."""

from __future__ import annotations

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


def _loads(spark, jar):
    """Load the class from ``jar`` alone (over Spark's own class loader,
    which has no added jars) and check that it is a Spark UDF2."""
    gw = spark.sparkContext._gateway
    jvm_ = gw.jvm
    urls = gw.new_array(jvm_.java.net.URL, 1)
    urls[0] = jvm_.java.io.File(str(jar)).toURI().toURL()
    loader = jvm_.java.net.URLClassLoader(urls, jvm_.org.apache.spark.util.Utils.getSparkClassLoader())
    cls = jvm_.java.lang.Class.forName(jvm.CLASS, True, loader)
    names = [i.getName() for i in cls.getInterfaces()]
    loader.close()
    return names == ["org.apache.spark.sql.api.java.UDF2"]


def test_cold_build_then_cache_hit(spark, tmp_path, javac_calls):
    jar = jvm.build_jar(tmp_path)
    assert len(javac_calls) == 1 and javac_calls[0][0].endswith("javac")
    assert jar.parent == tmp_path and jar.name == f"payloadscan-{jvm.cache_key(jvm.SOURCE.read_bytes())}.jar"
    assert [p.name for p in tmp_path.iterdir()] == [jar.name]  # no build leftovers
    assert _loads(spark, jar)

    assert jvm.build_jar(tmp_path) == jar
    assert len(javac_calls) == 1


def test_edited_source_changes_the_cache_key(tmp_path, monkeypatch, javac_calls):
    source = jvm.SOURCE.read_bytes()
    assert jvm.cache_key(source + b"\n") != jvm.cache_key(source)
    first = jvm.build_jar(tmp_path)
    edited = tmp_path / "src" / jvm.SOURCE.name
    edited.parent.mkdir()
    edited.write_bytes(source + b"// edited\n")
    monkeypatch.setattr(jvm, "SOURCE", edited)
    second = jvm.build_jar(tmp_path)
    assert second != first and first.exists() and second.exists()
    assert len(javac_calls) == 2


def test_missing_jdk_fails_loudly(tmp_path, monkeypatch):
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setenv("PATH", str(tmp_path))
    with pytest.raises(RuntimeError, match="needs a JDK"):
        jvm.build_jar(tmp_path / "cache", java_home=str(tmp_path))
