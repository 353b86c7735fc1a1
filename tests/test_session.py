"""The session's driver-heap default is sized from the machine."""

from __future__ import annotations

import pytest

from etl_staging_spark import session


@pytest.mark.parametrize("gib, heap", [(15, "7680m"), (256, "49152m")])
def test_driver_memory_default_is_half_the_machine_capped_at_48g(monkeypatch, gib, heap):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
    assert session.default_driver_memory() == heap
