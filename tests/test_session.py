"""Unit tests for the session factory's version-gated JVM flags
(ADVICE r7 #1: GCLockerRetryAllocationCount was removed in JDK 24,
where an unrecognized -XX option aborts JVM startup)."""

import os
from unittest import mock

from tv_event_streaming_spark import session as S


def test_java_major_version_parses_release_file(tmp_path):
    (tmp_path / "release").write_text(
        'IMPLEMENTOR="Eclipse Adoptium"\nJAVA_VERSION="17.0.11"\n'
    )
    with mock.patch.dict(os.environ, {"JAVA_HOME": str(tmp_path)}):
        assert S._java_major_version() == 17


def test_java_major_version_pre9_scheme(tmp_path):
    (tmp_path / "release").write_text('JAVA_VERSION="1.8.0_392"\n')
    with mock.patch.dict(os.environ, {"JAVA_HOME": str(tmp_path)}):
        assert S._java_major_version() == 8


def test_java_major_version_missing_is_none(tmp_path):
    with mock.patch.dict(os.environ, {"JAVA_HOME": str(tmp_path / "nope")}):
        assert S._java_major_version() is None


def _opts_for(major_line: str | None, tmp_path):
    env = {"JAVA_HOME": str(tmp_path)}
    env.pop("SPARK_GRAFT_DRIVER_JAVA_OPTS", None)
    if major_line is not None:
        (tmp_path / "release").write_text(major_line)
    with mock.patch.dict(os.environ, env):
        os.environ.pop("SPARK_GRAFT_DRIVER_JAVA_OPTS", None)
        return S._driver_java_options()


def test_gclocker_flag_present_on_jdk17(tmp_path):
    opts = _opts_for('JAVA_VERSION="17.0.11"\n', tmp_path)
    assert "-XX:GCLockerRetryAllocationCount=64" in opts
    assert "-XX:+IgnoreUnrecognizedVMOptions" in opts


def test_gclocker_flag_absent_on_jdk24(tmp_path):
    opts = _opts_for('JAVA_VERSION="24.0.1"\n', tmp_path)
    assert "GCLockerRetryAllocationCount" not in opts
    assert "-XX:+IgnoreUnrecognizedVMOptions" in opts
    assert "-XX:ReservedCodeCacheSize=1g" in opts


def test_gclocker_flag_kept_when_version_unknown(tmp_path):
    # undetectable version: keep the JDK-17 mitigation, rely on
    # IgnoreUnrecognizedVMOptions for newer JVMs
    opts = _opts_for(None, tmp_path)
    assert "-XX:GCLockerRetryAllocationCount=64" in opts
    assert "-XX:+IgnoreUnrecognizedVMOptions" in opts


def test_compiler_pool_left_to_hotspot(tmp_path):
    # HotSpot sizes the compiler pool from the CPUs the process may use;
    # a fixed count sized for a wide box starves a small one at start-up
    for i, release in enumerate(('JAVA_VERSION="17.0.11"\n', 'JAVA_VERSION="24.0.1"\n', None)):
        home = tmp_path / str(i)
        home.mkdir()
        assert "CICompilerCount" not in _opts_for(release, home)


def test_env_override_wins(tmp_path):
    with mock.patch.dict(
        os.environ, {"SPARK_GRAFT_DRIVER_JAVA_OPTS": "-Xmx1g"}
    ):
        assert S._driver_java_options() == "-Xmx1g"


def test_session_fails_on_missing_files(spark):
    # a KeyedTable frame whose files a later commit reclaimed must raise,
    # never return the rows of the files that are left
    assert spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false"
