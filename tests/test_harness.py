"""Guards on the correctness-harness plumbing itself.

Round 4 lesson: an entry can be value-correct yet crash the DRIVER's
pandas canonicalizer (array-typed column -> "unhashable type: 'list'"),
while the local mirror's stringifying hasher false-greens it. These
tests pin the mirror to driver-faithful behavior and pin the window
rotation to front never-GREEN (not merely never-seen) entries.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_correctness import complex_cols  # noqa: E402

from oroboro_dw_dbt_spark.operators import catalog as cat  # noqa: E402


class TestMirrorComplexTypeGuard:
    def test_array_column_flagged(self):
        rows = [(1, [0.1, 0.2]), (2, [0.3, 0.4])]
        assert complex_cols(["label", "centroid"], rows) == ["centroid"]

    def test_map_and_row_cells_flagged(self):
        rows = [({"a": 1}, {1, 2}, ["x"])]
        assert complex_cols(["m", "s", "l"], rows) == ["l", "m", "s"]

    def test_scalars_pass(self):
        import datetime

        rows = [
            (1, 1.5, "x", b"\x00", True, None,
             datetime.date(2020, 1, 1), datetime.datetime(2020, 1, 1)),
        ]
        cols = ["i", "f", "s", "b", "t", "n", "d", "ts"]
        assert complex_cols(cols, rows) == []

    def test_no_catalog_entry_returns_complex_columns(self, catalog_schemas):
        """Every entry's declared schema must be scalar-only: the driver
        hashes cells with pandas and crashes on array/map/struct."""
        from pyspark.sql import types as T

        errors = {n: s for n, s in catalog_schemas.items() if isinstance(s, str)}
        assert not errors, f"entries failed to build: {errors}"
        complex_types = (T.ArrayType, T.MapType, T.StructType)
        bad = {}
        for name, schema in catalog_schemas.items():
            cols = [f.name for f in schema.fields
                    if isinstance(f.dataType, complex_types)]
            if cols:
                bad[name] = cols
        assert not bad, f"driver-unhashable output columns: {bad}"


class TestWindowRotation:
    def test_covered_requires_green(self, tmp_path):
        """A window appearance that crashed or predates the oracle must NOT
        count as covered — r04's ss_label_centroids crash and r01's
        no_oracle rows both kept rotating out while never certified."""
        rec = {
            "green_entry": {"rows_match": True, "schema_match": True,
                            "hash_match": True, "spark_rows": 5,
                            "oracle_rows": 5, "err": None},
            "crashed_entry": {"rows_match": None, "schema_match": None,
                              "hash_match": None, "spark_rows": None,
                              "oracle_rows": None, "err": "TypeError: ..."},
            "pre_oracle_entry": {"rows_match": None, "schema_match": None,
                                 "hash_match": None, "spark_rows": 5,
                                 "oracle_rows": None, "err": "no_oracle"},
        }
        (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rec))
        specs = {
            "green_entry": cat.QuerySpec("green_entry", lambda s, d: None, "SELECT 1"),
            "crashed_entry": cat.QuerySpec("crashed_entry", lambda s, d: None, "SELECT 1"),
            # has an oracle NOW -> its old no_oracle row is stale, not green
            "pre_oracle_entry": cat.QuerySpec("pre_oracle_entry", lambda s, d: None, "SELECT 1"),
        }
        assert cat._driver_covered(tmp_path, specs) == {"green_entry"}

    def test_oracleless_entry_covered_by_clean_rows_only(self, tmp_path):
        rec = {
            "stream_entry": {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": 7,
                             "oracle_rows": None, "err": "no_oracle"},
        }
        (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rec))
        specs = {"stream_entry": cat.QuerySpec("stream_entry", lambda s, d: None, None)}
        assert cat._driver_covered(tmp_path, specs) == {"stream_entry"}

    def test_live_catalog_fronts_never_green(self):
        """On the real repo records, any entry that has never hash-matched
        (and has an oracle) must sort before all covered entries."""
        order = cat.catalog_order()
        covered = cat._driver_covered()
        front = [n for n in order if n not in covered]
        assert order[: len(front)] == front

    def test_stuck_entries_outrank_fresh(self, tmp_path):
        """When the uncovered backlog exceeds the driver's window, entries
        that already burned a window appearance without going green must
        lead — a brand-new entry can wait a round; they cannot."""
        rec = {
            "stuck": {"rows_match": None, "schema_match": None,
                      "hash_match": None, "spark_rows": None,
                      "oracle_rows": None, "err": "crash"},
        }
        (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rec))
        specs = {
            "fresh_a": cat.QuerySpec("fresh_a", lambda s, d: None, "SELECT 1"),
            "stuck": cat.QuerySpec("stuck", lambda s, d: None, "SELECT 1"),
            "fresh_b": cat.QuerySpec("fresh_b", lambda s, d: None, "SELECT 1"),
        }
        covered, appeared = cat._driver_history(tmp_path, specs)
        assert covered == set() and appeared == {"stuck"}
        # mirror catalog_order's tiering on the fake specs
        names = list(specs)
        stuck = [n for n in names if n in appeared and n not in covered]
        fresh = [n for n in names if n not in appeared and n not in covered]
        assert stuck + fresh == ["stuck", "fresh_a", "fresh_b"]

    def test_live_catalog_stuck_four_lead(self):
        """The four entries stuck since r01/r04 must occupy the first
        window slots ahead of this round's ~50 new entries."""
        order = cat.catalog_order()
        covered, appeared = cat._driver_history()
        stuck = [n for n in cat.QUERIES if n in appeared and n not in covered]
        assert order[: len(stuck)] == stuck



def test_window_modules_lead_the_catalog():
    """The driver's window is the RECERTIFY names, then the first
    entries in insertion order. Those must come from the relational,
    analytics and TPC-H modules, whatever other modules are added,
    split or moved; and no catalog module is filed by round."""
    from itertools import groupby

    ops_dir = Path(cat.__file__).resolve().parent
    lead = [cat.QUERIES[n].builder.__module__.rsplit(".", 1)[-1] for n in list(cat.QUERIES)[:56]]
    assert [(m, len(list(g))) for m, g in groupby(lead)] == [
        ("relational", 15),
        ("analytics_suite", 25),
        ("tpch_suite", 16),
    ]
    assert not [p.name for p in ops_dir.glob("round[0-9]*")]


class TestProbeEntries:
    def test_record_holds_sink_wall_and_spark_counts(self, spark, tmp_path):
        """The per-entry profiler times the noop sink and records the
        fastest pass's job/stage/task counts from its job group."""
        from probe_entries import main

        sf = "/root/testdata/sf0.001"
        out = tmp_path / "probe.json"
        main([str(out), "q1_pricing_summary", sf])
        rec = json.loads(out.read_text())["dirs"][sf]
        assert rec["queries"]["q1_pricing_summary"] > 0
        assert rec["queries"]["q1_pricing_summary"] == min(
            rec["passes_raw"]["q1_pricing_summary"]
        )
        prof = rec["profile"]["q1_pricing_summary"]
        assert prof["jobs"] >= 1 and prof["stages"] >= 1 and prof["tasks"] >= 1
