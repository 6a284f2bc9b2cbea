"""Session sizing from the host (no Spark session needed)."""

from cello_spark import session


def test_default_driver_mem_scales_with_host_and_is_clamped(monkeypatch):
    gib = 2**30
    for limit, want in ((15 * gib, "6144m"), (100 * gib, "24576m"), (gib, "1024m")):
        monkeypatch.setattr(session, "memory_limit_bytes", lambda: limit)
        assert session.default_driver_mem() == want


def test_memory_limit_is_positive_and_at_most_ram():
    import os

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < session.memory_limit_bytes() <= ram
