"""Session factory defaults that do not need a running JVM."""

from post_processor_spark.session import default_heap_gb

GIB_KB = 2**20


def test_default_heap_gb_sized_from_box():
    # 32 threads, 128 GiB: 2 GB per core would be 64, capped at 40% of memory
    assert default_heap_gb(32, 128 * GIB_KB) == 51
    # 4 cores, 15.7 GB MemTotal: 40% of memory caps it at 6
    assert default_heap_gb(4, 16_456_384) == 6
    # a small box still gets a heap
    assert default_heap_gb(1, 1 * GIB_KB) == 1
