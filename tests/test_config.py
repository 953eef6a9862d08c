"""Session defaults of emailindexer_spark.config.get_spark."""

from emailindexer_spark.config import DRIVER_INITIAL_HEAP_MB, _initial_heap_opts


def test_initial_heap_is_capped_at_driver_memory():
    assert DRIVER_INITIAL_HEAP_MB == 1024
    for mem, xms in (
        ("2g", 1024), ("28g", 1024), ("2GB", 1024), ("1t", 1024),
        ("4096m", 1024), ("1024", 1024), ("512m", 512), ("600", 600),
        ("524288k", 512),
    ):
        assert _initial_heap_opts(mem) == f"-Xms{xms}m -XX:+AlwaysPreTouch", mem
    assert _initial_heap_opts("lots") == ""


def test_driver_jvm_starts_with_initial_heap(spark):
    """The session's JVM got the options: its heap starts committed and
    touched instead of growing by G1's timing."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    want = _initial_heap_opts(spark.sparkContext.getConf().get("spark.driver.memory")).split()
    assert want and set(want) <= set(args), args
    xms = int(want[0][len("-Xms"):-1]) << 20
    assert jvm.java.lang.Runtime.getRuntime().totalMemory() >= xms
