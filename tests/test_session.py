"""Session defaults that must fit the host they run on."""

from __future__ import annotations


def test_driver_heap_fits_host_memory(spark):
    """The local-mode driver heap may not exceed the host's physical memory:
    a larger heap lets the shared JVM grow until the kernel OOM-kills it."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    heap_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(heap)
    assert heap_bytes <= total_kb * 1024, (heap, total_kb)
