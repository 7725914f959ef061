import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from web_crawler_search_engine_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # The whole suite shares ONE driver JVM; by its tail end it has run
    # tens of thousands of stages and the unified-memory pool carries
    # every module's residual cache blocks. At 8g a late heavy test can
    # die with UNABLE_TO_ACQUIRE_MEMORY (seen once at stage ~46k in
    # tests/parity/test_recrawl_ttl.py — passes in isolation), so the
    # TEST session gets headroom; engine defaults are unchanged. The
    # headroom is capped at physical RAM minus 6 GiB (for the Python
    # workers and the OS): a 16g heap on a 15 GiB host gets the JVM
    # OOM-killed. An explicit SPARK_DRIVER_MEM still wins.
    total_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{min(16, total_gib - 6)}g")
    s = get_spark(master="local[4]", shuffle_partitions=8)
    yield s
