"""The driver JVM's class-data-sharing (CDS) archive: the launch rule of
``session._class_data_sharing`` on fake Spark and JDK homes (no JVM), and
real launches in a subprocess against a private cache directory."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from polars_quant_spark.session import (
    _CDS_MAGIC,
    _DRIVER_JIT_OPTIONS,
    _class_data_sharing,
    get_spark,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_env(tmp_path, conf_files=("spark-defaults.conf.template",), cache=None) -> dict[str, str]:
    """An environment naming a fake SPARK_HOME (one jar; a conf directory
    holding ``conf_files``, none when None), a fake JAVA_HOME and a cache."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    if conf_files is not None:
        (spark_home / "conf").mkdir()
        for name in conf_files:
            (spark_home / "conf" / name).write_text("")
    java_home = tmp_path / "jdk"
    java_home.mkdir()
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    return {
        "SPARK_HOME": str(spark_home),
        "JAVA_HOME": str(java_home),
        "XDG_CACHE_HOME": str(cache or tmp_path / "cache"),
    }


def _archive(options: list[str]) -> str:
    return options[0].split("=", 1)[1]


# conf directory contents (None: no conf directory), whether the cache
# directory can be created, more environment ({full}: a directory holding a
# file, {empty}: an empty one), and whether the driver then dumps an archive
CONF_DIR_RULE = {
    "templates_only": (("spark-defaults.conf.template", "log4j2.properties.template"), True, {}, True),
    "missing_conf_dir": (None, True, {}, True),
    "spark_defaults_conf": (("spark-defaults.conf.template", "spark-defaults.conf"), True, {}, False),
    "log4j2_properties": (("log4j2.properties",), True, {}, False),
    "unwritable_cache": (("spark-defaults.conf.template",), False, {}, False),
    "hadoop_conf_dir": (None, True, {"HADOOP_CONF_DIR": "{full}"}, False),
    "empty_hadoop_conf_dir": (None, True, {"HADOOP_CONF_DIR": "{empty}"}, True),
    "yarn_conf_dir": (None, True, {"YARN_CONF_DIR": "{full}"}, False),
    "dist_classpath_with_conf_dir": (
        None, True, {"SPARK_DIST_CLASSPATH": "{empty}/*:{full}:{empty}"}, False,
    ),
    "dist_classpath_jars_only": (None, True, {"SPARK_DIST_CLASSPATH": "{full}/*:{empty}"}, True),
    "driver_class_path": (
        None, True, {"PYSPARK_SUBMIT_ARGS": "--driver-class-path {full} pyspark-shell"}, False,
    ),
    "driver_class_path_inline": (
        None, True, {"PYSPARK_SUBMIT_ARGS": "--driver-class-path={full} pyspark-shell"}, False,
    ),
    "extra_class_path_conf": (
        None, True, {"PYSPARK_SUBMIT_ARGS": "--conf spark.driver.extraClassPath={full} pyspark-shell"}, False,
    ),
    "other_submit_args": (None, True, {"PYSPARK_SUBMIT_ARGS": "--conf spark.foo={full} pyspark-shell"}, True),
    "properties_file": (
        None, True, {"PYSPARK_SUBMIT_ARGS": "--properties-file {empty}/p.conf pyspark-shell"}, False,
    ),
    "spark_build_tree": (None, True, {"SPARK_PREPEND_CLASSES": "1"}, False),
}


@pytest.mark.parametrize("case", list(CONF_DIR_RULE))
def test_conf_dir_rule(tmp_path, case):
    conf_files, cache_ok, more_env, dumps = CONF_DIR_RULE[case]
    cache = None
    if not cache_ok:
        # a regular file where the cache directory would go
        cache = tmp_path / "not_a_dir"
        cache.write_text("")
    env = _fake_env(tmp_path, conf_files, cache)
    (tmp_path / "full").mkdir()
    (tmp_path / "full" / "core-site.xml").write_text("<configuration/>")
    (tmp_path / "empty").mkdir()
    dirs = {"full": tmp_path / "full", "empty": tmp_path / "empty"}
    env.update({k: v.format(**dirs) for k, v in more_env.items()})
    before = dict(env)
    options, conf_dir = _class_data_sharing("-Xfoo", "8g", env)
    assert env == before
    if not dumps:
        assert (options, conf_dir) == ([], None)
        return
    jvm_dir = os.path.join(env["XDG_CACHE_HOME"], "polars_quant_spark", "jvm")
    assert options == [f"-XX:ArchiveClassesAtExit={_archive(options)}", "-Xlog:cds=off"]
    assert os.path.dirname(_archive(options)) == jvm_dir
    assert _archive(options).endswith(".jsa")
    assert conf_dir == os.path.join(jvm_dir, "conf")
    assert os.listdir(conf_dir) == []


def test_spark_conf_dir_takes_precedence(tmp_path):
    """``SPARK_CONF_DIR``, not ``$SPARK_HOME/conf``, is the conf directory
    the rule reads."""
    env = _fake_env(tmp_path)
    conf = tmp_path / "site-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.foo bar\n")
    assert _class_data_sharing("", "8g", {**env, "SPARK_CONF_DIR": str(conf)}) == ([], None)


def test_whitespace_in_the_cache_path_runs_without_archive(tmp_path):
    env = _fake_env(tmp_path, cache=tmp_path / "my cache")
    assert _class_data_sharing("", "8g", env) == ([], None)


def test_archive_header_decides_map_or_dump(tmp_path):
    """A file that starts with the dynamic-archive magic is mapped; a zero
    header (a dump killed part-way) is dumped again, and nothing here
    writes to either file."""
    env = _fake_env(tmp_path)
    path = _archive(_class_data_sharing("", "8g", env)[0])
    with open(path, "wb") as fh:
        fh.write(_CDS_MAGIC + bytes(60))
    options, conf_dir = _class_data_sharing("", "8g", env)
    assert options == [f"-XX:SharedArchiveFile={path}"]
    assert conf_dir == os.path.join(os.path.dirname(path), "conf")
    with open(path, "wb") as fh:
        fh.write(bytes(64))
    assert _class_data_sharing("", "8g", env)[0][0] == f"-XX:ArchiveClassesAtExit={path}"
    with open(path, "rb") as fh:
        assert fh.read() == bytes(64)


def test_key_follows_its_inputs(tmp_path):
    env = _fake_env(tmp_path)
    base = _archive(_class_data_sharing("-Xfoo", "8g", env)[0])
    assert _archive(_class_data_sharing("-Xfoo", "8g", env)[0]) == base
    assert _archive(_class_data_sharing("-Xbar", "8g", env)[0]) != base
    assert _archive(_class_data_sharing("-Xfoo", "4g", env)[0]) != base
    with open(os.path.join(env["JAVA_HOME"], "release"), "a") as fh:
        fh.write('JAVA_VERSION_DATE="2027-01-01"\n')
    changed_jdk = _archive(_class_data_sharing("-Xfoo", "8g", env)[0])
    assert changed_jdk != base
    jar = os.path.join(env["SPARK_HOME"], "jars", "spark-core.jar")
    os.utime(jar, (1, 1))
    assert _archive(_class_data_sharing("-Xfoo", "8g", env)[0]) != changed_jdk


def test_key_miss_keeps_the_newest_other_archives(tmp_path):
    """A miss removes the oldest archives of other keys, keeping the two
    newest; a hit removes nothing."""
    env = _fake_env(tmp_path)
    path = _archive(_class_data_sharing("", "8g", env)[0])
    jvm_dir = os.path.dirname(path)
    others = [os.path.join(jvm_dir, f"{i:016x}.jsa") for i in range(3)]
    for age, p in enumerate([*others, path]):
        with open(p, "wb") as fh:
            fh.write(_CDS_MAGIC)
        os.utime(p, (1000 + age, 1000 + age))
    _class_data_sharing("", "8g", env)  # a hit
    assert all(os.path.exists(p) for p in [*others, path])
    _class_data_sharing("", "4g", env)  # a miss: the oldest two go
    assert [os.path.exists(p) for p in [*others, path]] == [False, False, True, True]


def test_get_spark_leaves_environ_unchanged(spark):
    before = dict(os.environ)
    get_spark("pqs-tests")
    assert dict(os.environ) == before


# One session in a fresh interpreter: what its driver JVM was given, which
# archives it has mapped, a known result, and whether os.environ came back
# unchanged; then it waits for the
# JVM to exit, which is when a dumping JVM writes the archive.
_SESSION = r"""
import json, os
from polars_quant_spark.session import get_spark
# PySpark's SparkContext exports these two itself
OWN = ("SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE")
before = {k: v for k, v in os.environ.items() if k not in OWN}
spark = get_spark("cds-test")
after = {k: v for k, v in os.environ.items() if k not in OWN}
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
with open(f"/proc/{bean.getPid()}/maps") as fh:
    mapped = sorted({line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")})
out = {
    "args": list(bean.getInputArguments()),
    "class_path": jvm.java.lang.System.getProperty("java.class.path"),
    "sum": spark.range(100).selectExpr("sum(id)").first()[0],
    "mapped": mapped,
    "environ_kept": after == before,
}
gateway = spark.sparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=120)
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def cds_launch(tmp_path_factory):
    """(run one session, the archive path) against a private cache; the
    cache, archive included, is removed afterwards."""
    cache = tmp_path_factory.mktemp("xdg-cache")
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "SPARK_GRAFT_XMS")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEMORY="1g", PYTHONPATH=ROOT)
    options, _ = _class_data_sharing(" ".join(_DRIVER_JIT_OPTIONS), "1g", env)
    if not options:
        pytest.skip("this Spark install's conf directory rules out an archive")

    def launch() -> dict:
        proc = subprocess.run(
            [sys.executable, "-c", _SESSION], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert "[cds" not in proc.stdout
        return json.loads(proc.stdout.splitlines()[-1])

    yield launch, _archive(options)
    shutil.rmtree(cache, ignore_errors=True)


def _header(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read(len(_CDS_MAGIC))


def test_zero_header_archive_is_dumped_again(cds_launch):
    """A dump killed part-way leaves a zero header: the next session still
    starts, runs without mapping it, and dumps the archive again."""
    launch, path = cds_launch
    with open(path, "wb") as fh:
        fh.write(bytes(4 << 20))
    out = launch()
    assert out["sum"] == 4950 and out["environ_kept"]
    assert f"-XX:ArchiveClassesAtExit={path}" in out["args"]
    assert path not in out["mapped"]
    assert _header(path) == _CDS_MAGIC


def test_driver_maps_the_archive(cds_launch):
    """With the archive present the driver is given it and maps it, and the
    JVM accepts it for the driver's class path: a mismatched archive would
    otherwise be ignored without a sign."""
    launch, path = cds_launch
    if _header(path) != _CDS_MAGIC:
        launch()  # dump it first
    out = launch()
    assert out["sum"] == 4950 and out["environ_kept"]
    assert f"-XX:SharedArchiveFile={path}" in out["args"]
    assert path in out["mapped"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    check = subprocess.run(
        [java, "-Xshare:on", f"-XX:SharedArchiveFile={path}", "-cp", out["class_path"], "-version"],
        capture_output=True, text=True, timeout=120,
    )
    assert check.returncode == 0, check.stdout + check.stderr
