"""Session sizing and test-tier selection: the driver heap fits the host,
and the slow tier is deselected by default but runs when named."""

import os
import subprocess
import sys

import pytest

from streaming_feature_store_spark import session

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _heap_bytes(spec: str) -> int:
    unit = {"m": 2**20, "g": 2**30}[spec[-1]]
    return int(spec[:-1]) * unit


def test_default_driver_memory_fits_host_ram():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < _heap_bytes(session.default_driver_memory()) < ram


@pytest.mark.parametrize(
    "ram_gb, expected",
    [(15.7, "4019m"), (8, "2048m"), (64, "16g"), (256, "16g")],
)
def test_default_driver_memory_scales_with_ram(monkeypatch, ram_gb, expected):
    page = 4096
    pages = int(ram_gb * 2**30) // page
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    heap = session.default_driver_memory()
    assert heap == expected
    assert _heap_bytes(heap) < page * pages


def _collected(*args: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", *args],
        cwd=_REPO, capture_output=True, text=True, timeout=300,
    )
    return proc.stdout.strip().splitlines()[-1]


def test_slow_test_runs_when_named_by_node_id():
    module = "tests/test_r11_fixes.py"
    slow = f"{module}::test_validate_passes_and_preserves_results_on_merged"
    assert _collected(slow).startswith("1 test collected")
    assert "deselected" in _collected(module)
