"""Session defaults derived from the machine when the env vars are unset."""

import os

import pytest

from feature_extractor_spark import session


def test_machine_cores_follow_affinity(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.machine_cores() == 3


@pytest.mark.parametrize(
    "total_gb,expected", [(15, "7680m"), (48, "24576m"), (256, "24576m")]
)
def test_driver_memory_is_half_of_physical_capped_at_24g(monkeypatch, total_gb,
                                                        expected):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": total_gb * 2**30 // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
    assert session.driver_memory_default() == expected
