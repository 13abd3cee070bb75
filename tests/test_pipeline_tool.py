"""tools/pipeline_e2e.py CLI surface (VERDICT r11 Next #7): the
recall knobs are CLI args, not typo-silent env strings, and the
artifact records what a rung actually ran with."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.pipeline_e2e import _parse_args, _recall_knobs, main  # noqa: E402


class TestKnobResolution:
    def test_cli_wins_over_env(self, monkeypatch):
        """The old env spelling of a knob is not read at all."""
        monkeypatch.setenv("SPARK_GRAFT_SEMDEDUP_MARGIN", "0.5")
        knobs = _recall_knobs(_parse_args(["o.json", "/d", "--margin", "0.1"]))
        assert knobs["probe_margin"] == 0.1
        assert knobs["source"]["probe_margin"] == "cli"

    def test_default_off(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_SEMDEDUP_SPILL", "0.3")
        assert _recall_knobs(_parse_args(["o.json", "/d"])) == {
            "nprobe": 1,
            "probe_margin": None,
            "group_spill": None,
            "spill_cap": 8,
            "source": dict.fromkeys(
                ("nprobe", "probe_margin", "group_spill", "spill_cap"), "default"
            ),
        }

    def test_parse_args_positional_compat(self):
        a = _parse_args(["OUT.json", "/x/sf0.1"])
        assert a.out_path == "OUT.json" and a.sf_dir == "/x/sf0.1"
        assert a.margin is None and a.spill is None and a.nprobe is None
        a = _parse_args(
            ["o.json", "/d", "--margin", "0.1", "--spill", "0.3",
             "--nprobe", "16"]
        )
        assert (a.margin, a.spill, a.nprobe) == (0.1, 0.3, 16)


class TestPipelineSmoke:
    def test_chain_with_cli_knobs(self, spark, tmp_path, monkeypatch):
        """One full chain at the smoke SF with the headline knobs on
        the CLI: the artifact must carry recall_knobs with source=cli
        and the usual stage walls/counts. (get_spark reuses the test
        session, so this is in-process, not a second JVM.)"""
        monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_WAITS", "0")
        out = tmp_path / "pipe.json"
        main(
            [str(out), "/root/testdata/sf0.001", "--margin", "0.1",
             "--spill", "0.3", "--nprobe", "16"]
        )
        rec = json.loads(out.read_text())
        assert rec["recall_knobs"] == {
            "nprobe": 16,
            "probe_margin": 0.1,
            "group_spill": 0.3,
            "spill_cap": 8,
            "source": {
                "nprobe": "cli",
                "probe_margin": "cli",
                "group_spill": "cli",
                "spill_cap": "default",
            },
        }
        assert rec["counts"]["corpus"] > 0
        assert rec["counts"]["after_semantic"] <= rec["counts"]["after_near_dup"]
        assert set(rec["stages"]) == {
            "quality_filter",
            "minhash_lsh_dedup",
            "semdedup_ivf",
            "pack_shards",
        }


class TestChainPlanAudit:
    def test_chain_plans_have_zero_flags(self, spark):
        """VERDICT r11 Next #8, wired into the round's routine: the
        4-stage chain AS run_chain composes it (stage-boundary
        checkpoints included, headline recall knobs on) must audit
        clean — no cartesian/BNLJ, no BatchEvalPython, no wide scans,
        no unreduced scaling-table broadcast hints — at the smoke SF.
        The sf30 run is the round's manual routine; this keeps the
        composition from drifting into a flag unnoticed."""
        from tools.explain_audit import chain_plans

        audits = chain_plans(spark, "/root/testdata/sf0.001")
        assert set(audits) == {
            "chain:quality_filter",
            "chain:minhash_lsh_dedup",
            "chain:semdedup_ivf",
            "chain:pack_shards",
        }
        all_flags = {name: flags for name, (_plan, flags) in audits.items()}
        assert all(not f for f in all_flags.values()), all_flags


class TestShuffleWidth:
    """Disk-rung shuffle width is a CONSTANT 256: the r12 2×2 A/B on
    the clean sf1000 corpus measured a corpus-scaled width (1024)
    dead even in-chain on the LSH stage, +37% on the semantic stage,
    and +6% on the rung total — the scaled rule was reverted
    (SCALE.md round 12). Memory rungs keep n_shuffle=None (session
    default). The level comes from the footer doc count against the
    driver heap."""

    def _tiny_dir(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = tmp_path / "documents.parquet"
        d.mkdir()
        pq.write_table(
            pa.table({"doc_id": pa.array(range(8), pa.int64())}),
            d / "part-0.parquet",
        )
        return str(tmp_path)

    def test_disk_rung_constant_width(self, monkeypatch, tmp_path):
        from oroboro_dw_dbt_spark.models.corpus_pipeline import resolve_stage_confs

        # 8 docs × ~1.2 KB of live text overrun 25% of a 16 KiB heap
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "16k")
        ck, extra, n = resolve_stage_confs(self._tiny_dir(tmp_path))
        assert ck == "disk" and n == 256
        assert extra["spark.rdd.compress"] == "true"
        assert "spark.sql.adaptive.advisoryPartitionSizeInBytes" not in extra

    def test_memory_rung_no_width(self, monkeypatch):
        from oroboro_dw_dbt_spark.models.corpus_pipeline import resolve_stage_confs

        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
        ck, extra, n = resolve_stage_confs("/root/testdata/sf0.001")
        assert ck is None and extra is None and n is None


def test_tools_import_no_catalog_suite():
    """Library code lives in the package: no tool imports from an
    ``operators.*_suite`` catalog module, except the reference DAG
    (``reference_suite.reference_graph``) the plan audit composes."""
    import ast

    allowed = {("oroboro_dw_dbt_spark.operators.reference_suite", "reference_graph")}
    found = []
    for path in sorted((Path(__file__).resolve().parents[1] / "tools").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.module:
                for alias in node.names:
                    target = f"{node.module}.{alias.name}"
                    if "operators." in target and "_suite" in target.rsplit("operators.", 1)[1]:
                        if (node.module, alias.name) not in allowed:
                            found.append((path.name, target))
            elif isinstance(node, ast.Import):
                found += [
                    (path.name, a.name) for a in node.names
                    if "operators." in a.name and a.name.endswith("_suite")
                ]
    assert found == [], found
