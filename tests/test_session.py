"""Session factory: host-sized defaults, and the environment knobs the
package and tools read. Nothing here starts a session."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest

from oroboro_dw_dbt_spark.session import driver_memory, get_spark, host_cpus, parse_mem


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
    assert 0 < parse_mem(driver_memory()) <= 0.6 * ram
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


@pytest.mark.parametrize("value", ["0", "-2", "abc", "lots"])
def test_malformed_cpus_raise_when_read(monkeypatch, value):
    """A core count that is not a positive integer fails at the read,
    naming the knob — not later as ``local[0]`` or a master-URL error."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        host_cpus()
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("malformed_cpus")


@pytest.mark.parametrize("value", ["0", "-2", "abc", "lots", "inf"])
def test_malformed_driver_mem_raises_when_read(monkeypatch, value):
    """A heap size ``parse_mem`` rejects (or a non-positive one) fails
    at the read, naming the knob — before a JVM launch can fail on it."""
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        driver_memory()
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        get_spark("malformed_driver_mem")


def test_knob_surface():
    """The package and tools read exactly these ``SPARK_GRAFT_*`` knobs;
    a new one must be added here on purpose."""
    root = Path(__file__).resolve().parents[1]
    files = [*root.glob("oroboro_dw_dbt_spark/**/*.py"), *root.glob("tools/*.py")]
    names = {
        m for f in files for m in re.findall(r"SPARK_GRAFT_([A-Z_]+)", f.read_text())
    }
    assert names == {"CPUS", "DRIVER_MEM", "SF_DIR"}


def test_one_materialization_seam():
    """Every eager checkpoint goes through ``engine.materialize``: no
    other package module and no tool calls ``localCheckpoint``, and
    only the seam imports ``StorageLevel``."""
    import ast

    root = Path(__file__).resolve().parents[1]
    seam = root / "oroboro_dw_dbt_spark" / "engine" / "materialize.py"
    files = [*root.glob("oroboro_dw_dbt_spark/**/*.py"), *root.glob("tools/*.py")]
    calls, imports = [], []
    for f in files:
        if f == seam:
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint":
                calls.append(f"{f.relative_to(root)}:{node.lineno}")
            elif isinstance(node, ast.ImportFrom) and any(
                a.name == "StorageLevel" for a in node.names
            ):
                imports.append(f"{f.relative_to(root)}:{node.lineno}")
    assert calls == [] and imports == [], (calls, imports)


def test_session_conf_mutation_surface():
    """The package modules that set or unset a session conf at run time
    (``<x>.conf.set``/``.unset``, or through a local ``conf``) are
    exactly these. A conf set inside a catalog entry leaks into every
    later entry of the session, so a per-call option is preferred; a
    new mutation site must be added here on purpose."""
    import ast

    root = Path(__file__).resolve().parents[1]
    pkg = root / "oroboro_dw_dbt_spark"
    found = set()
    for f in pkg.glob("**/*.py"):
        for node in ast.walk(ast.parse(f.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
            ):
                continue
            owner = node.func.value
            if (isinstance(owner, ast.Attribute) and owner.attr == "conf") or (
                isinstance(owner, ast.Name) and owner.id == "conf"
            ):
                found.add(f.relative_to(pkg).as_posix())
    assert found == {
        "sources/testdata.py",
        "engine/table_format.py",
        "streaming/jobs.py",
        "operators/events_suite.py",
    }, sorted(found)
