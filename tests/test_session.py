"""The driver JVM that ``session.connect`` launches."""

from __future__ import annotations

from big_data_table_spark.session import driver_java_options
from .conftest import TEST_DRIVER_MEMORY


def test_driver_java_options_fix_an_eighth_of_the_heap():
    assert driver_java_options("2g") == "-Xmn256m"
    assert driver_java_options("6G") == "-Xmn768m"
    assert driver_java_options("4096m") == "-Xmn512m"
    assert driver_java_options("1024") == "-Xmn128m"
    assert driver_java_options("2gb") == "-Xmn256m"
    assert driver_java_options("lots") == ""


def test_driver_young_generation_is_fixed(spark):
    """The session's JVM runs with a fixed young generation of an eighth
    of its heap, so its resident memory does not follow G1's heap
    growth."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    opts = driver_java_options(TEST_DRIVER_MEMORY)
    assert opts in list(mf.getRuntimeMXBean().getInputArguments())
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    for flag in ("NewSize", "MaxNewSize"):
        assert int(hotspot.getVMOption(flag).getValue()) == 768 << 20, flag
