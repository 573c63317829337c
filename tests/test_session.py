"""The session factory's machine-sized defaults (no Spark started)."""

import os

from prague_spark import session


def _mb(setting: str) -> int:
    assert setting.endswith("m"), setting
    return int(setting[:-1])


def test_default_driver_memory_never_exceeds_physical_memory(monkeypatch):
    real_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < _mb(session._default_driver_memory()) <= real_mb

    expected = {512: 256, 1536: 768, 15 * 1024: 3840, 128 * 1024: 32768,
                1024 * 1024: 48 * 1024}
    for phys_mb, want in expected.items():
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_mb * 256}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        got = _mb(session._default_driver_memory())
        assert got == want
        assert got <= phys_mb
