"""Host-derived session defaults: the driver heap follows MemTotal."""

import pytest

from lab02_citation_matching_and_entity_resolution_spark import session


@pytest.mark.parametrize(
    "total_mb, heap",
    [
        (16_000, "7936m"),  # half is 8000 MB, rounded down to 256 MB steps
        (15_700, "7680m"),
        (64 * 1024, "32768m"),
        (1_500, "1024m"),  # never below 1 GB
    ],
)
def test_default_heap_is_half_of_ram(monkeypatch, total_mb, heap):
    monkeypatch.setattr(session, "_mem_total_mb", lambda: total_mb)
    assert session.default_driver_memory() == heap
