"""The session factory's host-derived defaults."""

from __future__ import annotations

import os

from se_data_pipeline_spark.session import _default_driver_memory


def test_default_driver_memory_fits_the_host():
    mb = int(_default_driver_memory().rstrip("m"))
    host_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    assert 0 < mb <= min(48 * 1024, host_mb * 6 // 10)
