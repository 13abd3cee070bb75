"""Session factory: host-sized defaults, and the environment knobs the
package and tools read. Nothing here starts a session."""

from __future__ import annotations

import os
import re
from pathlib import Path

from oroboro_dw_dbt_spark.dedup.dedup import _parse_mem
from oroboro_dw_dbt_spark.session import driver_memory, host_cpus


def test_cpus_default_to_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert host_cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert host_cpus() == 3


def test_heap_default_fits_host(monkeypatch):
    """Unset, the heap is at most 60% of physical RAM (it was a fixed
    24g whatever the host); the env value still wins."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < _parse_mem(driver_memory()) <= 0.6 * ram
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_knob_surface():
    """The package and tools read exactly these ``SPARK_GRAFT_*`` knobs;
    a new one must be added here on purpose."""
    root = Path(__file__).resolve().parents[1]
    files = [*root.glob("oroboro_dw_dbt_spark/**/*.py"), *root.glob("tools/*.py")]
    names = {
        m for f in files for m in re.findall(r"SPARK_GRAFT_([A-Z_]+)", f.read_text())
    }
    assert names == {"CPUS", "DRIVER_MEM", "SF_DIR"}
