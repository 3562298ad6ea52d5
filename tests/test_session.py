"""The session factory (document_ai_spark/session.py): the launch options
of the driver JVM, its young-generation cap per local task slot, and the
one-time warm-up. Sessions that check launch options run in their own
Python process (the `_session` helper of test_session_cds.py) with a
temporary XDG_CACHE_HOME and a 1g driver heap."""

from __future__ import annotations

import os

from pyspark import SparkContext
from test_session_cds import _fake_spark_home, _session, needs_jcmd

from document_ai_spark import session


def _warnings(out: str) -> list[str]:
    # the RESULT line itself carries the launch options
    return [ln for ln in out.splitlines()
            if "MaxNewSize" in ln and "RESULT " not in ln]


def test_local_session_caps_young_generation_without_archive(tmp_path):
    """A user conf dir disables the class archive; the cap still rides
    the launch: a local[2] driver JVM reports 128 MiB, and the 1g heap
    prints no warning about it."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    res, out = _session(str(tmp_path / "xdg"),
                        env={"SPARK_CONF_DIR": str(conf_dir)})
    assert res["cds"] == "absent" and res["n"] == 5
    assert res["java_opts"] == "-XX:MaxNewSize=128m"
    assert res["young_mb"] == 128
    assert _warnings(out) == []
    assert not os.path.exists(tmp_path / "xdg" / "spark-docext")


def test_caller_extra_java_options_win(tmp_path):
    """Spark appends `extraJavaOptions` after the default options the cap
    rides in, so a caller's own MaxNewSize is the one the JVM keeps."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    res, out = _session(
        str(tmp_path / "xdg"),
        {"spark.driver.extraJavaOptions": "-XX:MaxNewSize=64m"},
        env={"SPARK_CONF_DIR": str(conf_dir)})
    assert res["java_opts"] == "-XX:MaxNewSize=128m"
    assert res["young_mb"] == 64
    assert _warnings(out) == []


def test_local_slots_parses_every_local_master_once():
    """One parse of a local master backs both the default shuffle width
    and the young cap: N of `local[N]` and `local[N, F]`, os.cpu_count()
    for `local[*]`, one for bare `local`; None for other masters."""
    assert session.local_slots("local[4]") == 4
    assert session.local_slots("local[2, 3]") == 2
    assert session.local_slots("local") == 1
    assert session.local_slots("local[*]") == os.cpu_count()
    assert session.local_slots("yarn") is None


def test_young_cap_per_task_slot():
    """64 MiB per task slot of a local master; no cap for masters whose
    tasks run outside the driver JVM (or that Spark rejects)."""
    assert session.young_cap("local[4]") == "-XX:MaxNewSize=256m"
    assert session.young_cap("local[2, 3]") == "-XX:MaxNewSize=128m"
    assert session.young_cap("local") == "-XX:MaxNewSize=64m"
    assert session.young_cap("local[*]") == \
        f"-XX:MaxNewSize={64 * os.cpu_count()}m"
    for master in ("local[0]", "local-cluster[2,1,1024]", "yarn",
                   "spark://host:7077", "k8s://https://host:443"):
        assert session.young_cap(master) is None


@needs_jcmd
def test_launch_plan_assembles_options(tmp_path, monkeypatch):
    """One place assembles the launch options: the cap, then the caller's
    own default options, then the archive's; the cap alone when no
    archive applies; nothing when the JVM already runs or the launcher's
    spark-defaults.conf sets the default options itself."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for v in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
              "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setenv("SPARK_HOME", str(_fake_spark_home(tmp_path)))
    caller = {"spark.driver.defaultJavaOptions": "-Dx=1"}

    opts, cds = session._launch_plan("local[2]", caller)
    assert cds[0] == "created"
    assert opts == f"-XX:MaxNewSize=128m -Dx=1 {cds[1]}"
    assert session._launch_plan("yarn", {}) == (cds[1], cds)

    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    assert session._launch_plan("local[2]", caller) == (
        "-XX:MaxNewSize=128m -Dx=1", None)
    (conf_dir / "spark-defaults.conf").write_text(
        "spark.driver.defaultJavaOptions -XX:+UseSerialGC\n")
    assert session._launch_plan("local[2]", {}) == ("", None)
    (conf_dir / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_gateway", object())
        assert session._launch_plan("local[2]", {}) == ("", None)


def test_session_is_warmed_once(spark):
    """get_spark marks the session after the one-time warmup so repeat
    calls (getOrCreate returns the same session) never re-run it."""
    assert getattr(spark, "_das_warmed", False) is True


def test_warm_session_is_nonfatal_on_broken_session(spark):
    """_warm_session must never raise — a failed warmup is a no-op."""
    from document_ai_spark.session import _warm_session

    class Broken:
        @property
        def sparkContext(self):  # pragma: no cover - attribute access
            raise RuntimeError("boom")

    _warm_session(Broken())  # must not raise

