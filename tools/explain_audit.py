"""Physical-plan audit: the scale-readiness half of the feedback loop.

For each catalog query, capture `.explain("formatted")` and assert the
plan properties that matter at 100 TB:

- no `CartesianProduct` / `BroadcastNestedLoopJoin` anywhere (an
  accidental cross join is a cluster-killer; the intentional ANN
  brute-force baseline is allowlisted);
- `ReadSchema` stays narrow (column pruning reached the scan; a ~30-col
  read for a few-column query means a projection didn't prune);
- no Python `BatchEvalPython` (row-at-a-time UDF) nodes — Arrow
  (`MapInPandas`/`FlatMapGroupsInPandas*`) is the only Python allowed;
- no `F.broadcast(...)` hint whose subtree is an UNREDUCED scan of a
  table that scales with sf (customer/orders/lineitem/part/supplier/
  documents/embeddings/events): an explicit hint overrides AQE's size
  check and OOMs executors at 100×; true dims (nation, region) and
  filtered/aggregated derivatives are fine.

(No codegen check: under AQE the pre-execution formatted plan prints
`AdaptiveSparkPlan isFinalPlan=false` without codegen ids, so their
absence proves nothing. JVM-sidedness is covered by the
BatchEvalPython check instead.)

Usage: python tools/explain_audit.py [sf_dir] [query ...]
       python tools/explain_audit.py --chain [sf_dir]
Writes per-query plans under /tmp/plan_audit/ and prints a PASS/FLAG
line per query + a summary; exit 1 on any flag.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, ".")

from oroboro_dw_dbt_spark.operators import QUERIES  # noqa: E402
from oroboro_dw_dbt_spark.session import get_spark  # noqa: E402

# queries where an all-pairs product IS the declared algorithm
# (ss_ivf_topk embeds the brute-force baseline to measure recall@k —
# the same bounded |queries|×corpus pass as ss_bruteforce_topk)
NESTED_LOOP_OK = {
    "ss_bruteforce_topk",
    # the recall census's EXACT side is definitionally the same bounded
    # |queries|×corpus brute-force baseline
    "ss_lsh_recall_report",
    # same bounded |queries|×corpus baseline pass, through the MIPS
    # norm-augmentation (plus the 1-row max-norm broadcast)
    "ss_mips_topk",
    "g2_haversine_pairs",
    "g3_geodesic_pairs",  # same 25-point nation pair grid as g2
    "dd_ngram_jaccard",
    "ss_ivf_topk",
    # 1-row broadcast cross join attaching the scalar n_docs — O(n)
    "t_tfidf_top_terms",
    # two KB-scale broadcast cross joins by design: the 3-row pct grid
    # against the |bins| cumulative histogram, and the 1-row
    # merge-consistency flag
    "sk_hist_quantiles_merge",
    # 1-row merge-consistency flag attached to the 1-row summary
    "sk_bloom_membership",
    # same shape: the decorrelated global-average scalar is a 1-row
    # broadcast cross join (TPC-H Q22's uncorrelated scalar subquery)
    "q22_idle_customer_balance",
    # same shape: per-iteration dangling-mass scalar (1-row aggregate)
    # broadcast-crossed onto the |V|-row rank state
    "gr_pagerank",
    # same shape: the (n_r, n_t) token-total scalar (1-row aggregate)
    # broadcast-crossed onto the ≤B-row DSIR likelihood-ratio dim —
    # rows never multiply; the corpus-sized stream only ever meets the
    # ≤B-row lr dim in a broadcast HASH join on b
    "t_dsir_weights",
    # same shape: the global value total (1-row aggregate of the
    # per-part frame) broadcast-crossed back for the HAVING threshold
    # (TPC-H Q11's uncorrelated scalar subquery)
    "q11_important_parts",
    # 3-row fold-boundary table broadcast-crossed onto the fact (one
    # scan answers every fold via conditional aggregation)
    "sp_time_folds",
    # 3-row era table broadcast-crossed onto customer to DERIVE the
    # versioned dimension fixture; the certified op (fact ⋈ dim on
    # key + interval residual) is a hash join
    "tj_point_in_time",
    # 1-row vocabulary-size scalar (count distinct tokens) broadcast-
    # crossed onto the bigram stream for Laplace smoothing
    "t_bigram_novelty",
    # 1-row global-max-date scalar broadcast-crossed onto the per-user
    # aggregate for recency (uncorrelated scalar subquery shape)
    "ev_rfm_segments",
    # 1-row merge==direct equality flag (empty-diff aggregate) broadcast-
    # crossed onto the 20-row estimate output — the round-6 lazy fold of
    # what was an eager limit(1).count() during plan build
    "sk_countmin_merge",
    # 3-row threshold table broadcast-crossed onto the ≤1000-row score
    # HISTOGRAM (never the fact table) — one scan answers every
    # threshold via conditional aggregation, same shape as sp_time_folds
    "ml_confusion_threshold",
    # 3-row annotator-pair table broadcast-crossed onto the 1-row
    # sufficient-statistics aggregate — pair fan-out off one full pass
    "lab_agreement",
    # 1-row global stats (min/max/3 percentiles) broadcast-crossed onto
    # the scan — the fitted-scaler-applied-as-literals shape
    "fe_scaler_suite",
    # 1-row decile-edge aggregate broadcast-crossed onto the scan
    "fe_quantile_bins",
    # 2-row lag grid (lag ∈ {1,7}) broadcast-crossed onto the KB-scale
    # per-day rollup (never the fact) — one pass answers both lags
    "ts_autocorr",
    # 1-row corpus stats (N, total dl) broadcast-crossed onto the
    # query-term postings (already filtered to 3 terms)
    "t_bm25_topk",
    # 1-row summed-thresholds scalar broadcast-crossed onto the ≤80-row
    # merged candidate summary — never the fact table
    "sk_topk_mergeable",
    # three 1-row aggregates merged by broadcast cross joins — the
    # dataset card IS a 1-row artifact
    "ch_dataset_card",
    # 1-row leakage census (must-be-0) broadcast-crossed onto the
    # 2-row per-split summary
    "sp_dedup_aware_split",
    # 1-row corpus totals (N_uni, N_bi) broadcast-crossed onto the
    # min-support-filtered bigram table
    "ml_cooccurrence_pmi",
}
# streaming entries execute eagerly inside the builder; explain() on the
# returned batch result reflects the memory sink, not the stream plan
SKIP = {
    "st_stream_windowed",
    "st_stateful_sessions",
    "st_stream_dedup",
    "st_stream_stream_join",
}


# distinctive first-column names of the tables that scale with sf —
# seeing one inside a broadcast-hint subtree means a fact-sized build side
SCALING_COLS = (
    "c_custkey", "o_orderkey", "l_orderkey", "p_partkey", "s_suppkey",
    "ps_partkey", "doc_id", "vec_id", "event_id",
)
# a subtree containing one of these is (plausibly) reduced before the
# broadcast — bounded filters/aggregates/limits make a hint legitimate
REDUCERS = ("Filter", "Aggregate", "GlobalLimit", "Join", "Deduplicate")


def audit_broadcast_hints(df) -> list[str]:
    """Flag F.broadcast hints over unreduced scans of scaling tables.

    Works on the ANALYZED logical plan, where user hints survive as
    `ResolvedHint (strategy=broadcast)` nodes (the optimized/physical
    plans fold them into join selection, indistinguishable from AQE's
    own choices)."""
    flags: list[str] = []
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    for i, ln in enumerate(lines):
        if "ResolvedHint" not in ln or "broadcast" not in ln.lower():
            continue
        depth = len(ln) - len(ln.lstrip(" :+-"))
        subtree = []
        for nxt in lines[i + 1:]:
            if (len(nxt) - len(nxt.lstrip(" :+-"))) <= depth:
                break
            subtree.append(nxt)
        body = "\n".join(subtree)
        if any(r in body for r in REDUCERS):
            continue  # build side is reduced before broadcast
        hit = [c for c in SCALING_COLS if re.search(rf"\b{c}#\d", body)]
        if hit:
            flags.append(f"broadcast hint on scaling table (saw {hit[0]})")
    return flags


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# queries whose OUTPUT is legitimately a wide table (the mart has 35
# columns; ref_user_base reads back the table it just materialized, and
# its BUILD plan genuinely projects most of the user fixture's columns)
WIDE_SCAN_OK = {"ref_user_base", "build:user_base"}


def audit_one(name: str, plan: str) -> list[str]:
    flags: list[str] = []
    if name not in NESTED_LOOP_OK and re.search(
        r"CartesianProduct|BroadcastNestedLoopJoin", plan
    ):
        flags.append("nested-loop/cartesian join in plan")
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time Python UDF (BatchEvalPython)")
    # every parquet scan should prune columns unless the query is SELECT *
    if name not in WIDE_SCAN_OK:
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            if len(m.group(1).split(",")) > 24:
                flags.append(f"wide scan ({len(m.group(1).split(','))} cols) — pruning?")
    return flags


def build_plan_frames(spark, sf_dir: str) -> dict[str, "object"]:
    """The 3 reference models' BUILD plans (un-materialized).

    ``ref_user_base``'s catalog builder materializes the mart, so its
    auditable plan was only the post-write parquet read — a 2-node scan
    that says nothing about the joins the build executed (the round-4
    blind spot). These frames are the actual trees Catalyst optimizes."""
    from oroboro_dw_dbt_spark.operators.reference_suite import reference_graph

    graph = reference_graph(spark, sf_dir)
    return {f"build:{n}": df for n, df in graph.plan_frames(spark).items()}


def audit_frame(name: str, df) -> tuple[str, list[str]]:
    """(formatted plan, flags) for one frame."""
    plan = plan_text(df)
    return plan, audit_one(name, plan) + audit_broadcast_hints(df)


def chain_plans(
    spark, sf_dir: str, margin: float = 0.1, spill: float = 0.3,
    nprobe: int = 16,
) -> dict[str, tuple[str, list[str]]]:
    """``{"chain:<stage>": (plan, flags)}`` for the 4-stage chain
    (VERDICT r11 Next #8) as ``run_chain`` composes it, headline recall
    knobs on: each stage's pre-checkpoint frame, the tree it executes
    on the previous stage's truncated lineage (which the per-entry
    audit can't see), audited when its stage ends and not kept."""
    from oroboro_dw_dbt_spark.models.corpus_pipeline import run_chain

    audits: dict[str, tuple[str, list[str]]] = {}

    def audit_stage(stage, frame):
        audits[f"chain:{stage}"] = audit_frame(f"chain:{stage}", frame)

    run_chain(
        spark, sf_dir, level=None, nprobe=nprobe, probe_margin=margin,
        group_spill=spill, spill_cap=8, after_stage=audit_stage,
    )
    return audits


def main() -> int:
    out_dir = Path("/tmp/plan_audit")
    out_dir.mkdir(exist_ok=True)
    if sys.argv[1:2] == ["--chain"]:
        # chain mode: audit the composed pipeline's stage plans
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
        audits = chain_plans(get_spark("plan_audit_chain"), sf_dir).items()
        what = "chain plans"
    else:
        sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
        names = sys.argv[2:] or [n for n in QUERIES if n not in SKIP]
        spark = get_spark("plan_audit")
        builds = build_plan_frames(spark, sf_dir) if not sys.argv[2:] else {}
        todo = [(n, None) for n in names if n not in SKIP]
        todo += [(n, df) for n, df in builds.items()]
        audits = (
            (n, audit_frame(n, QUERIES[n].builder(spark, sf_dir) if df is None else df))
            for n, df in todo
        )
        what = "plans"
    n_plans = n_flags = 0
    for name, (plan, flags) in audits:
        n_plans += 1
        (out_dir / f"{name.replace(':', '_')}.txt").write_text(plan)
        if flags:
            n_flags += len(flags)
            print(f"FLAG {name}: {'; '.join(flags)}")
        else:
            print(f"pass {name}")
    print(f"\n{n_flags} flags across {n_plans} {what} (plans in {out_dir}/)")
    return 1 if n_flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
