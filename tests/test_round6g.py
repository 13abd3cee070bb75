"""Driver-side recomputes of period-over-period, the capped bipartite
projection and PMI collocations, plus the leakage-safe split."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.operators.extended_suite import ts_period_over_period
from oroboro_dw_dbt_spark.operators.graph_suite import gr_bipartite_projection
from oroboro_dw_dbt_spark.operators.ml_eval_suite import ml_cooccurrence_pmi
from oroboro_dw_dbt_spark.operators.training_suite import sp_dedup_aware_split
from oroboro_dw_dbt_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


class TestPeriodOverPeriod:
    def test_matches_python(self, spark):
        orders = load_table(spark, SF01, "orders").select(
            F.to_date("o_orderdate").alias("d"), "o_totalprice"
        ).collect()
        daily: dict = {}
        base = None
        for r in orders:
            daily[r["d"]] = daily.get(r["d"], 0) + round(r["o_totalprice"] * 100)
        days = sorted(daily)
        base = days[0]
        idx = {(d - base).days + (base - base).days: d for d in days}
        got = {r["day_idx"]: r for r in ts_period_over_period(spark, SF01).collect()}
        assert len(got) == len(days)
        for d in days:
            from datetime import date

            i = (d - date(1992, 1, 1)).days
            r = got[i]
            assert r["revenue_cents"] == daily[d]
            for lag, col in ((1, "dod_micro"), (7, "wow_micro")):
                from datetime import timedelta

                prev = d - timedelta(days=lag)
                if prev in daily:
                    want = round(
                        (daily[d] - daily[prev]) * 1000000.0 / daily[prev]
                    )
                    assert abs(r[col] - want) <= 1
                else:
                    assert r[col] is None


class TestBipartite:
    def test_matches_python(self, spark):
        o = {r["o_orderkey"]: r["o_custkey"]
             for r in load_table(spark, SF, "orders").collect()}
        lines = load_table(spark, SF, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).collect()
        cp: dict = {}
        for r in lines:
            c = o[r["l_orderkey"]]
            cp[(c, r["l_partkey"])] = cp.get((c, r["l_partkey"]), 0) + 1
        by_cust: dict = {}
        for (c, p), n in cp.items():
            by_cust.setdefault(c, []).append((p, n))
        edges: dict = {}
        for c, ps in by_cust.items():
            top = sorted(ps, key=lambda t: (-t[1], t[0]))[:10]
            keys = sorted(p for p, _n in top)
            for i, a in enumerate(keys):
                for b in keys[i + 1:]:
                    edges[(a, b)] = edges.get((a, b), 0) + 1
        want = sorted(edges.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        got = [
            ((r["part_a"], r["part_b"]), r["weight"])
            for r in gr_bipartite_projection(spark, SF).orderBy("rnk").collect()
        ]
        assert got == want

    def test_cap_bounds_fanout(self, spark):
        """No pair weight can exceed the number of customers, and the
        output is exactly the requested top-k."""
        rows = gr_bipartite_projection(spark, SF01).collect()
        assert len(rows) == 20
        n_cust = load_table(spark, SF01, "customer").count()
        assert all(0 < r["weight"] <= n_cust for r in rows)


class TestPmiAndSplit:
    def test_pmi_matches_python(self, spark):
        docs = load_table(spark, SF01, "documents").select("text").collect()
        uni: dict = {}
        bi: dict = {}
        for r in docs:
            toks = [t for t in r["text"].split(" ") if t]
            # builder splits on single spaces; corpus uses single spaces
            for t in toks:
                uni[t] = uni.get(t, 0) + 1
            for a, b in zip(toks, toks[1:]):
                bi[(a, b)] = bi.get((a, b), 0) + 1
        nu = sum(uni.values())
        nb = sum(bi.values())
        scored = {}
        for (a, b), c in bi.items():
            if c >= 5:
                scored[(a, b)] = round(
                    math.log(c * nu * nu / (nb * uni[a] * uni[b])) * 1e9
                )
        want = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        got = [
            ((r["a"], r["b"]), r["pmi_nano"])
            for r in ml_cooccurrence_pmi(spark, SF01).orderBy("rnk").collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want]
        for (gk, gv), (wk, wv) in zip(got, want):
            assert abs(gv - wv) <= 2

    def test_split_never_leaks(self, spark):
        rows = sp_dedup_aware_split(spark, SF01).collect()
        assert {r["split"] for r in rows} == {"test", "train"}
        assert all(r["fps_spanning"] == 0 for r in rows)
        assert sum(r["n_docs"] for r in rows) == 500
