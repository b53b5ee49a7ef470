"""Session factory: the driver JVM's compiler-thread flag."""

from bioie_llm_spark.session import DRIVER_JAVA_OPTIONS, driver_java_options


def test_driver_jvm_runs_with_flag(spark):
    """The flag reaches the running JVM's own arguments, not only the conf."""
    jvm = spark.sparkContext._jvm
    args = list(
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert "-XX:CICompilerCount=2" in args, args


def test_driver_java_options_merge():
    """The constant comes first and a caller's flags follow it, so the
    caller's repeat of a flag is the one the JVM keeps."""
    assert driver_java_options() == DRIVER_JAVA_OPTIONS
    assert driver_java_options("") == DRIVER_JAVA_OPTIONS
    assert (
        driver_java_options("-XX:CICompilerCount=4 -Dx=1")
        == f"{DRIVER_JAVA_OPTIONS} -XX:CICompilerCount=4 -Dx=1"
    )
