"""Query catalog: every operator exposed to the correctness harness.

Each entry pairs a Spark builder ``(spark, sf_dir) -> DataFrame`` with
the equivalent ANSI SQL for the DuckDB oracle. The driver compares
row-count + schema + order-insensitive value hash at sf0.01, so:

- every computed column is aliased identically on both sides;
- queries are deterministic (explicit tiebreaks in every window /
  top-k — SURVEY §2.5 W4 is the cautionary tale);
- floats are rounded where engines could differ in the last ulp.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    survey_ref: str = ""  # SURVEY §2 inventory rows this exercises


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, survey_ref: str = "") -> Callable:
    """Register a catalog entry; the decorated fn is (spark, sf_dir) → DF."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query {name!r}")
        QUERIES[name] = QuerySpec(name=name, builder=fn, oracle=oracle, survey_ref=survey_ref)
        return fn

    return wrap


def _driver_covered(root=None, specs: dict[str, QuerySpec] | None = None) -> set[str]:
    """Entry names already *green*-checked by a prior driver round.

    The driver compares a bounded prefix of ``queries()`` per round, so we
    rotate never-yet-green entries to the front: each round's window then
    certifies new entries while earlier rounds' results stand on record.

    "Green" is per-record, not per-appearance: a window row counts only if it
    hash-matched the oracle, or — for entries that have no oracle in the
    current catalog — if the rows-only check ran clean (``err == 'no_oracle'``
    with a row count). An entry that appeared but crashed or predates its
    oracle keeps front-rotating until a round certifies it (round 4: four
    entries were stuck never-green because appearance alone counted).
    """
    covered, _appeared = _driver_history(root, specs)
    return covered


def _driver_history(
    root=None, specs: dict[str, QuerySpec] | None = None
) -> tuple[set[str], set[str]]:
    """(green, appeared) entry-name sets across all prior driver rounds."""
    import json
    from pathlib import Path

    if root is None:
        root = Path(__file__).resolve().parents[2]
    if specs is None:
        specs = QUERIES
    covered: set[str] = set()
    appeared: set[str] = set()
    for f in sorted(Path(root).glob("CORRECTNESS_r*.json")):
        try:
            records = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        for name, rec in records.items():
            if not isinstance(rec, dict):
                continue
            appeared.add(name)
            spec = specs.get(name)
            has_oracle = spec is not None and spec.oracle is not None
            if has_oracle:
                green = bool(rec.get("hash_match")) and rec.get("err") is None
            else:
                # rows-only entry: best achievable is a clean no_oracle run
                green = rec.get("err") in (None, "no_oracle") and rec.get("spark_rows") is not None
            if green:
                covered.add(name)
    return covered, appeared


# Already-green entries whose IMPLEMENTATION changed after their last
# driver certification (VERDICT r08 Next #4): their standing record
# predates the current code, so they jump the done-tier queue and
# re-earn a row in the next window. Remove names once the fresh row
# lands. Round 11: the r10 list (t_bpe_train/t_bpe_encode/
# dd_minhash_lsh_star) landed fresh r10 green rows and rotates out
# (VERDICT r10 Next #3). This round's certified-code changes:
# t_char_entropy's empty-text explode guard (ADVICE r10 medium) and
# dd_minhash_lsh_star via minhash_lsh_victims' arg validation +
# auto-spelling hook (computation on the certified call path is
# unchanged, but the function body was edited).
# Round 12: the r11 list (t_char_entropy, dd_minhash_lsh_star, the
# two greedy entries) landed fresh r11 green rows and rotates out
# (VERDICT r11 Next #4). All 12 round-12 names landed fresh green
# driver rows in CORRECTNESS_r12 (VERDICT r12 Next #7: the list was
# cleared so the bounded window spends every slot where it counts).
# Round 13 optimization pass: the five cells ∝ N greedy builders now
# pass ivf_cells_capped as a CALLABLE so semdedup_ivf_core sizes C from
# its own checkpointed count — one corpus scan instead of two. Same C
# by construction, results bit-identical (equivalence pinned in
# tests/test_round7.py::test_callable_n_cells_matches_int_spelling),
# but the builder bodies changed, so the driver rows re-earn the
# record on current code.
RECERTIFY: tuple[str, ...] = (
    "dd_semdedup_ivf_greedy",
    "dd_semdedup_ivf_greedy_np2",
    "dd_semdedup_ivf_greedy_margin",
    "dd_semdedup_ivf_greedy_spill",
    "dd_semdedup_ivf_greedy_ms",
    # r13 batch 2: data-sized stream state width (jobs.py) and
    # post-checkpoint scan width (dedup.py) — results identical
    # (width-independent operators, oracle-green at both gate SFs),
    # executed code changed.
    "st_stream_windowed",
    "st_drift_monitor",
    "dd_minhash_lsh_star",
    # r13 batch 3: dd_semdedup_ivf joins the callable-C spelling
    # (pre-count job removed, jobs 21→19; hash unchanged at both SFs).
    "dd_semdedup_ivf",
)


def catalog_order() -> list[str]:
    """Catalog names ordered for the driver's bounded per-round window:

    1. appeared in a past window but never green (longest-waiting —
       these lose another full round if they miss the window, so they
       outrank brand-new entries when the uncovered backlog exceeds
       the window size);
    2. never appeared at all (new entries), in insertion order;
    3. already green but code-changed since certification (RECERTIFY);
    4. already green (their record stands).
    """
    covered, appeared = _driver_history()
    names = list(QUERIES)
    stuck = [n for n in names if n in appeared and n not in covered]
    fresh = [n for n in names if n not in appeared and n not in covered]
    recert = [n for n in RECERTIFY if n in covered]
    done = [n for n in names if n in covered and n not in recert]
    return stuck + fresh + recert + done


def queries_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n].builder for n in catalog_order()}


def oracle_sql_map() -> dict[str, str]:
    return {n: QUERIES[n].oracle for n in catalog_order() if QUERIES[n].oracle is not None}
