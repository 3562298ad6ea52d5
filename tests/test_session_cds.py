"""The driver JVM's class archive (dynamic AppCDS, document_ai_spark/
session.py). Every session here runs in its own Python process with a
temporary XDG_CACHE_HOME, so the archives these tests make, reuse and
damage are never the host's."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark import SparkContext

from document_ai_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# os.environ keys SparkContext itself sets on every launch
PYSPARK_OWN_ENV = {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}

SCRIPT = textwrap.dedent("""
    import json, os, sys
    before = dict(os.environ)
    from document_ai_spark.session import get_spark, cds_state
    spark = get_spark(app_name="cds", master="local[2]",
                      extra_conf=json.loads(sys.argv[1]))
    n = spark.range(5).count()
    changed = sorted(k for k in set(before) | set(os.environ)
                     if before.get(k) != os.environ.get(k))
    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    print("RESULT " + json.dumps({
        "cds": cds_state(spark), "n": n, "env_changed": changed,
        "java_opts": spark.conf.get("spark.driver.defaultJavaOptions", ""),
        "young_mb": int(hotspot.getVMOption("MaxNewSize").getValue())
        // 2**20,
    }), flush=True)
""")

needs_jcmd = pytest.mark.skipif(
    not os.access(session._jcmd(), os.X_OK), reason="no jcmd next to java"
)


def _env(cache: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k not in (
        "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
        "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT",
        "PYSPARK_GATEWAY_SECRET")}
    env.update(XDG_CACHE_HOME=cache, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g",
               PYSPARK_PYTHON=sys.executable)
    return env


def _session(cache: str, extra_conf: dict | None = None,
             cmd: list[str] | None = None,
             env: dict[str, str] | None = None) -> tuple[dict, str]:
    """Run SCRIPT in a fresh process to its exit (atexit hooks included);
    returns its RESULT line and everything it wrote to stdout/stderr.
    `env` adds to the process's environment."""
    cmd = cmd or [sys.executable, "-c", SCRIPT]
    r = subprocess.run(cmd + [json.dumps(extra_conf or {})],
                       env={**_env(cache), **(env or {})},
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    assert r.returncode == 0, r.stdout[-3000:]
    line = next(ln for ln in r.stdout.splitlines() if "RESULT " in ln)
    return json.loads(line.split("RESULT ", 1)[1]), r.stdout


def _archives(cache: str) -> list[str]:
    d = os.path.join(cache, "spark-docext", "cds")
    return sorted(os.path.join(d, n) for n in os.listdir(d)
                  if n.endswith(".jsa"))


def _whole(path: str) -> bool:
    # a published archive is <key>.<bytes>.jsa
    return os.path.basename(path).split(".")[1] == str(os.path.getsize(path))


@pytest.fixture(scope="module")
def created(tmp_path_factory):
    """One creating session on an empty cache: (cache, result, output)."""
    cache = str(tmp_path_factory.mktemp("xdg"))
    res, out = _session(cache)
    return cache, res, out


@needs_jcmd
def test_first_session_creates_archive_quietly(created):
    """The creating session dumps at exit, publishes one whole archive
    under the key, leaves no temporary file, and its JVM prints no
    `[cds]` lines (the dump alone would print hundreds of warnings).
    Its young generation is capped like any local[2] launch."""
    cache, res, out = created
    assert res["cds"] == "created" and res["n"] == 5
    assert "-XX:+RecordDynamicDumpInfo" in res["java_opts"]
    assert res["young_mb"] == 128
    assert "[cds" not in out
    (archive,) = _archives(cache)
    assert _whole(archive)
    key = session.cds_key(_env(cache))
    assert os.path.basename(archive).startswith(key + ".")
    d = os.path.dirname(archive)
    assert not [n for n in os.listdir(d) if n.endswith(".tmp")]
    # the empty conf directory that stood in for Spark's default one
    assert os.listdir(os.path.join(d, "conf")) == []
    assert set(res["env_changed"]) <= PYSPARK_OWN_ENV


@needs_jcmd
def test_second_session_maps_archive(created):
    """-Xshare:on fails JVM start unless the archive maps, so a second
    session that starts at all used it; the young cap next to the
    archive option does not stop it mapping. It leaves os.environ as it
    found it (SPARK_CONF_DIR is redirected only while the gateway
    launches)."""
    cache, _, _ = created
    res, out = _session(cache, {"spark.driver.extraJavaOptions": "-Xshare:on"})
    assert res["cds"] == "reused" and res["n"] == 5
    assert res["young_mb"] == 128
    (archive,) = _archives(cache)
    assert f"-XX:SharedArchiveFile={archive}" in res["java_opts"]
    assert "SPARK_CONF_DIR" not in res["env_changed"]
    assert set(res["env_changed"]) <= PYSPARK_OWN_ENV


@needs_jcmd
@pytest.mark.parametrize("damage", ["truncated", "garbage"])
def test_damaged_archive_still_runs(created, tmp_path, damage):
    """A truncated archive would crash the JVM (SIGBUS), so it is not
    reused: the session recreates it. Garbage of the archive's own size
    is rejected by the JVM, which runs without it."""
    cache, _, _ = created
    (src,) = _archives(cache)
    own = str(tmp_path / "xdg")
    d = os.path.join(own, "spark-docext", "cds")
    os.makedirs(d)
    dst = os.path.join(d, os.path.basename(src))
    size = os.path.getsize(src)
    with open(dst, "wb") as f:
        if damage == "truncated":
            with open(src, "rb") as s:
                f.write(s.read(size // 2))
        else:
            f.write(os.urandom(size))
    res, _ = _session(own)
    assert res["n"] == 5
    if damage == "truncated":
        assert res["cds"] == "created"
        (archive,) = _archives(own)
        assert _whole(archive)
    else:
        assert res["cds"] == "reused"


@needs_jcmd
def test_spark_submit_launch_gets_no_option(tmp_path):
    """Under spark-submit the JVM is already running when get_spark is
    called: no CDS option, no archive state, nothing in the cache."""
    script = tmp_path / "probe.py"
    script.write_text(SCRIPT)
    submit = os.path.join(session._spark_home(os.environ), "bin",
                          "spark-submit")
    cache = str(tmp_path / "xdg")
    res, _ = _session(cache, cmd=[submit, "--master", "local[2]",
                                  str(script)])
    assert res["cds"] == "absent" and res["n"] == 5
    assert res["java_opts"] == ""
    assert not os.path.exists(os.path.join(cache, "spark-docext"))


def _fake_spark_home(root, conf_files=("spark-defaults.conf.template",)):
    home = root / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"a")
    (home / "conf").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("x")
    return home


@needs_jcmd
def test_launch_plan_cases(tmp_path, monkeypatch):
    """Only a launch from bare Python with a template-only default conf
    directory gets an option; a user conf directory, real conf files,
    a spark-submit launch and an already running JVM get none."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for v in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
              "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setenv("SPARK_HOME", str(_fake_spark_home(tmp_path)))
    state, opts, _, _ = session._cds_launch("")
    assert state == "created" and "RecordDynamicDumpInfo" in opts

    with monkeypatch.context() as m:
        m.setenv("SPARK_CONF_DIR", str(tmp_path))
        assert session._cds_launch("") is None
    with monkeypatch.context() as m:
        m.setenv("PYSPARK_GATEWAY_PORT", "1")
        assert session._cds_launch("") is None
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_gateway", object())
        assert session._cds_launch("") is None
    real = tmp_path / "real"
    real.mkdir()
    with monkeypatch.context() as m:
        m.setenv("SPARK_HOME", str(_fake_spark_home(real, (
            "spark-defaults.conf",))))
        assert session._cds_launch("") is None


def test_key_ignores_java_options_and_tracks_jars(tmp_path):
    """The key survives a changed `_JAVA_OPTIONS` (the benchmark puts a
    per-sample path in it) and changes with the jar list."""
    home = _fake_spark_home(tmp_path)
    env = {"JAVA_HOME": session._java_home(os.environ),
           "SPARK_HOME": str(home)}
    key = session.cds_key(env)
    assert key == session.cds_key(
        {**env, "_JAVA_OPTIONS": "-Djava.io.tmpdir=/tmp/sample-123"})
    (home / "jars" / "b.jar").write_bytes(b"b")
    assert session.cds_key(env) != key
    assert session.cds_key(env, str(tmp_path / "extra.jar")) != \
        session.cds_key(env)
