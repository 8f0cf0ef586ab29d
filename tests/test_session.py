"""The local session's driver JVM options: the JIT cap reaches the JVM,
and it is put in front of any defaultJavaOptions already set, never in
their place."""

from document_text_extraction_spark import session


def test_local_session_jvm_stops_at_c1(spark):
    mx = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
          .getRuntimeMXBean())
    assert "-XX:TieredStopAtLevel=1" in list(mx.getInputArguments())


def test_jit_cap_keeps_existing_default_java_options(tmp_path, monkeypatch):
    (tmp_path / "spark-defaults.conf").write_text(
        "# site defaults\n"
        "spark.driver.memory 2g\n"
        "spark.driver.defaultJavaOptions  -Dsite.a=1 -Dsite.b=2\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    cap = "-XX:TieredStopAtLevel=1"
    assert (session._local_driver_java_options(None)
            == f"{cap} -Dsite.a=1 -Dsite.b=2")
    # a caller's value replaces the file's, as spark-submit's --conf does
    assert session._local_driver_java_options("-Dcaller=1") \
        == f"{cap} -Dcaller=1"
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "missing"))
    assert session._local_driver_java_options(None) == cap
