"""Distributed BPE vocabulary learning (Sennrich et al. 2016).

The production shape for training-tokenizer construction at corpus
scale splits into two regimes:

1. **One heavy distributed pass**: count word *types* — a single
   ``groupBy(word)`` shuffle over the corpus. At 100 TB this is the
   only operation that touches every byte; its output (the word-type
   frequency table) is MB-scale for natural language (Heaps' law), KB
   here.
2. **A compact merge loop over the type table**: each BPE merge step
   counts adjacent symbol pairs weighted by word frequency, picks the
   most frequent pair (ties broken lexicographically), and greedily
   re-segments every word type. State never grows beyond
   |types| × avg word length, so the loop's per-step jobs are tiny
   regardless of corpus size — the same two-phase design HuggingFace
   ``tokenizers`` and SentencePiece use for their counting phase.

Everything stays JVM-side: symbol sequences are space-joined strings,
re-segmentation is an ``F.aggregate`` (fold) Column expression
implementing the standard greedy left-to-right merge, and pair
counting is an ``arrays_zip`` + ``explode`` + ``sum``. The only
driver-side data is the argmax pair per step — the learned merge
table itself (``n_merges`` rows), exactly the artifact a tokenizer
trainer must materialize.

The reference (moizbukhari1996/oroboro-dw-dbt, 3 BigQuery models —
models/marts/core/*.sql) has no tokenizer surface; this extends the
engine per SURVEY §6 (LLM-pipeline families).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.engine.materialize import materialize

EOW = "</w>"  # end-of-word marker symbol (no LIKE wildcards: cross-engine safe)
N_MERGES = 10


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq) over documents.text — the one corpus-scale pass."""
    from oroboro_dw_dbt_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), " +")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def base_symbols(word_col: Column) -> Column:
    """Initial segmentation: characters + trailing EOW, space-joined."""
    return F.array_join(F.concat(F.split(word_col, ""), F.array(F.lit(EOW))), " ")


def apply_merge(syms_str: Column, lhs: str, rhs: str) -> Column:
    """Greedy left-to-right merge of adjacent (lhs, rhs) symbol pairs.

    Fold over the symbol list with a string accumulator: when the
    accumulator's trailing token is exactly ``lhs`` and the next symbol
    is ``rhs``, appending ``rhs`` without a separator concatenates the
    pair into one token. Greedy non-overlap falls out for free: the
    just-merged trailing token ``lhs+rhs`` no longer equals ``lhs``.
    The DuckDB oracle runs the byte-identical fold via ``list_reduce``.
    """
    return apply_merges(syms_str, [(lhs, rhs)])


def apply_merges(syms_str: Column, rules: list[tuple[str, str]]) -> Column:
    """Greedy left-to-right application of several FOLD-SAFE merge
    rules in ONE fold (expression size linear in ``len(rules)``,
    never the 3^k nesting of chained folds).

    Fold-safety (what :func:`_select_batch` guarantees) is the exact
    condition under which one combined scan equals applying the rules
    one-at-a-time in list order:

    - **no rule's rhs equals an earlier rule's lhs** — otherwise the
      scan could fire the later rule at position i and consume the
      symbol the earlier (higher-priority) rule needed at i+1
      (``x a b`` under [(a,b), (x,a)]: sequential gives [x, ab], a
      combined scan would give [xa, b]);
    - **no rule's rhs is a token another rule in the batch creates**
      — rhs is compared against the RAW next symbol, so a fresh-rhs
      rule could never fire inside the fold;
    - **a rule's lhs MAY be fresh** (a token an earlier rule creates):
      the accumulator's trailing token carries merged tokens, so
      ``(ab, y)`` after ``(a, b)`` fires exactly where sequential
      does — this is how chain admissions like (e,r) → (er,</w>)
      ride one fold.

    Rules sharing an rhs stay disjoint through their lhs contexts
    (the trailing token equals at most one lhs), and a just-merged
    trailing token ``lhs+rhs`` is strictly longer than either symbol,
    so within-rule greedy non-overlap is preserved exactly as in the
    single-rule fold."""
    syms = F.split(syms_str, " ")

    def step(acc: Column, x: Column) -> Column:
        expr = F.concat(acc, F.lit(" "), x)
        for lhs, rhs in rules:
            expr = F.when(
                (x == F.lit(rhs))
                & ((acc == F.lit(lhs)) | acc.endswith(F.lit(" " + lhs))),
                F.concat(acc, x),
            ).otherwise(expr)
        return expr

    return F.aggregate(
        F.slice(syms, 2, F.size(syms) - 1), F.element_at(syms, 1), step
    )


# Merge-batch size: each counting pass admits up to this many merges.
# Real 50k-vocab runs pay vocab/batch driver round-trips instead of
# vocab (VERDICT r08 Next #6); the certified 10-merge entries see
# identical merges either way (the selector only batches when
# provably equal to sequential).
_BPE_BATCH = 8

# Trigram-window size multiplier (× the pair window): the trigram
# counts are what make CHAINED admissions exact — a merge (a,b)
# changes a window pair (x,a)'s count by exactly the trigram count
# (x,a,b), so knowing the heavy trigrams turns the r09 selector's
# hard disjointness stop into arithmetic (VERDICT r09 Next #7).
_BPE_TRI_WINDOW = 4

# Number of pair-counting passes the last train() call ran (the
# jobs ∝ vocab/batch check in tests/test_feature_bpe.py reads it).
LAST_TRAIN_PASSES = 0


def _select_batch(
    pair_rows,
    tris: dict[tuple[str, str, str], int],
    vocab: set[str],
    max_m: int,
    pair_floor: int,
    tri_floor: int,
    tri_complete: bool,
) -> list[tuple[str, str, int]]:
    """From one pass's pair window + trigram window, the maximal merge
    sequence PROVABLY identical to sequential BPE's next choices —
    counts included (the learned table records selection-time counts).

    The simulation maintains EXACT live pair counts: applying merge
    (a,b) decreases pair (x,a) by trigram count (x,a,b) and pair (b,y)
    by (a,b,y) — exact for a≠b because greedy fires at EVERY (a,b)
    adjacency — and creates pairs (x,ab)/(ab,y) with counts equal to
    the same trigrams. Everything the windows cannot price exactly
    becomes a THREAT upper bound (unseen pairs ≤ the pair window's
    floor; stale trigrams — ones touching a previously merged symbol —
    at their original value, since old-symbol counts only decrease;
    quadgram-dependent cases like the (b,a) double-fire overlap at
    their pre-merge value). A candidate is admitted only while its
    exact count is STRICTLY above every threat (a tied unseen pair
    could win the lexicographic tie), so the output is sequential's
    prefix by construction — property-tested against the plain-Python
    reference on adversarial corpora.

    Admission also enforces :func:`apply_merges`' fold-safety: a
    candidate whose rhs equals an earlier admission's lhs (the scan-
    order inversion) or a fresh token ends the batch; fresh-LHS
    candidates — created pairs like (er, </w>) — ARE admitted (their
    exact count is the creating trigram) and end the batch after
    themselves (their onward effects need quadgrams). Self-pairs
    (a,a) and vocab-colliding tokens are admitted as batch-final
    (their own count is exact; their effects are not priceable)."""
    if not pair_rows:
        return []
    P: dict[tuple[str, str], int] = {
        (r["l"], r["r"]): int(r["cnt"]) for r in pair_rows
    }
    threat = pair_floor
    stale: set[str] = set()
    fresh: set[str] = set()
    applied_lhs: set[str] = set()
    sel: list[tuple[str, str, int]] = []

    def tri(p: str, q: str, r: str) -> tuple[int, bool]:
        """(current count, exact?) of trigram (p,q,r). Original window
        values are exact until any of the three symbols is touched by
        an applied merge; stale/unseen values are upper bounds (old-
        symbol trigram counts only decrease under fresh-token merges).
        """
        v = tris.get((p, q, r))
        dirty = bool({p, q, r} & stale) or bool({p, q, r} & fresh)
        if v is not None:
            return v, not dirty
        if tri_complete:
            return 0, not dirty
        return tri_floor, (tri_floor == 0 and not dirty)

    # sequential's argmax order is (cnt desc, l, r) — min() below on
    # ((-cnt, l, r)) reproduces it over the live table
    first = True
    while len(sel) < max_m and P:
        (a, b), cnt = min(P.items(), key=lambda kv: (-kv[1], kv[0]))
        # the first pick is the window head: the global argmax by
        # construction (every pair above the floor is in the window,
        # and floor ties collected are the lexicographically smallest)
        if not first and cnt <= threat:
            break
        first = False
        tok = a + b
        if b in applied_lhs or b in fresh:
            break  # fold-safety: this candidate needs its own pass
        sel.append((a, b, cnt))
        del P[(a, b)]
        if a == b or tok in vocab or tok in fresh or a in fresh:
            # batch-final admissions: (a,a) overlap runs, vocab
            # collisions (can RAISE (x,tok) counts) and fresh-lhs
            # chains all have exact own-counts but unpriceable onward
            # effects. A colliding tok that is also an earlier lhs
            # would break the fold — drop the admission entirely.
            if tok in vocab and tok in applied_lhs:
                sel.pop()
            break
        # --- exact decreases on the live table -----------------------
        for (x, y), c in list(P.items()):
            dec, ok = 0, True
            if y == a:  # (x, a) loses the (x, a, b) sites
                v, ex = tri(x, a, b)
                dec, ok = dec + v, ok and ex
            if x == b:  # (b, y) loses the (a, b, y) sites
                v, ex = tri(a, b, y)
                dec, ok = dec + v, ok and ex
            if x == b and y == a:
                ok = False  # double-fire overlap needs a quadgram
            if not ok:
                del P[(x, y)]
                threat = max(threat, c)  # counts only decrease
            elif dec:
                if c - dec > 0:
                    P[(x, y)] = c - dec
                else:
                    del P[(x, y)]
        # --- created pairs -------------------------------------------
        for (p, q, r), _v in tris.items():
            if (q, r) == (a, b):
                v, _ex = tri(p, q, r)
                if v > 0:
                    # (p, tok): never fold-admissible (fresh rhs) — an
                    # exact value is still only a threat; a stale value
                    # is its upper bound
                    threat = max(threat, v)
            if (p, q) == (a, b) and r != a:
                v, ex = tri(p, q, r)
                if ex and v > 0:
                    P[(tok, r)] = v  # admissible fresh-lhs candidate
                elif v > 0:
                    threat = max(threat, v)
        # (tok, a) and (tok, tok) need quadgrams; unseen creation
        # contexts are bounded by the trigram floor
        ta, _ = tri(a, b, a)
        threat = max(threat, ta)
        if not tri_complete:
            threat = max(threat, tri_floor)
        stale.update((a, b, tok))
        fresh.add(tok)
        applied_lhs.add(a)
    return sel


def train(
    words: DataFrame, n_merges: int = N_MERGES, batch: int = _BPE_BATCH
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """The BPE merge loop: ``n_merges`` (lhs, rhs, pair_count) rules,
    plus the final segmented word-type table (word, freq, s).

    The segmentation column is MATERIALIZED per pass (an eager
    checkpoint of the KB-scale type table) — applying the
    pass's merges to the stored string, never re-deriving from base
    characters. Re-deriving would nest ``apply_merge`` expressions,
    and each level references its input three times, so the expression
    tree grows 3^k — a codegen blowup by merge 10. The DuckDB oracle's
    MATERIALIZED CTE per step is the same decision for the same reason.

    Batched selection (VERDICT r08 Next #6 + r09 Next #7): each
    counting pass collects a top-K pair window AND a top-K′ trigram
    window in ONE action, then :func:`_select_batch` simulates
    sequential BPE exactly over them — chained admissions included
    (a merge's effect on a pair sharing a symbol is precisely a
    trigram count). Only prefixes provably equal to sequential BPE
    are admitted, so the learned merge table is bit-identical to
    ``batch=1`` (property-tested against the plain-Python reference).
    Driver round-trips drop from ``n_merges`` to ~``n_merges/batch``
    — the difference between 50k jobs and ~6k on a real vocab run.
    """
    global LAST_TRAIN_PASSES
    cur = materialize(words.select(
        "word", "freq", base_symbols(F.col("word")).alias("s")
    ))
    # exact symbol vocabulary, maintained driver-side: base symbols
    # once (alphabet-scale), then every merged token. Freshness checks
    # against it keep the batch selector sound.
    vocab: set[str] = {
        r["t"]
        for r in cur.select(
            F.explode(F.split("s", " ")).alias("t")
        ).distinct().collect()
    }
    merges: list[tuple[str, str, int]] = []
    passes = 0
    k_window = max(2, 4 * batch)
    k_tri = max(2, _BPE_TRI_WINDOW * k_window)
    while len(merges) < n_merges:
        syms = F.split("s", " ")
        pair_top = (
            cur.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice(syms, 1, F.size(syms) - 1).alias("l"),
                        F.slice(syms, 2, F.size(syms) - 1).alias("r"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("a"), F.col("p.r").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(k_window)
            .select(
                F.lit(2).alias("kind"), "a", "b",
                F.lit(None).cast("string").alias("c"), "cnt",
            )
        )
        tlen = F.greatest(F.size(syms) - 2, F.lit(0))
        tri_top = (
            cur.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice(syms, 1, tlen).alias("l"),
                        F.slice(syms, 2, tlen).alias("m"),
                        F.slice(syms, 3, tlen).alias("r"),
                    )
                ).alias("p"),
            )
            .groupBy(
                F.col("p.l").alias("a"),
                F.col("p.m").alias("b"),
                F.col("p.r").alias("c"),
            )
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b", "c")
            .limit(k_tri)
            .select(F.lit(3).alias("kind"), "a", "b", "c", "cnt")
        )
        # one action per pass: both windows ride one collect
        rows = pair_top.unionByName(tri_top).collect()
        passes += 1
        pair_rows = [
            {"l": r["a"], "r": r["b"], "cnt": r["cnt"]}
            for r in rows
            if r["kind"] == 2
        ]
        tri_rows = [r for r in rows if r["kind"] == 3]
        if not pair_rows:  # every word fully merged to one token
            break
        # floors from the window minima (union+collect does not
        # guarantee the per-branch sort order survives)
        pair_floor = (
            min(int(r["cnt"]) for r in pair_rows)
            if len(pair_rows) >= k_window
            else 0
        )
        tri_complete = len(tri_rows) < k_tri
        tri_floor = (
            0 if tri_complete else min(int(r["cnt"]) for r in tri_rows)
        )
        tris = {
            (r["a"], r["b"], r["c"]): int(r["cnt"]) for r in tri_rows
        }
        sel = _select_batch(
            pair_rows,
            tris,
            vocab,
            min(batch, n_merges - len(merges)),
            pair_floor,
            tri_floor,
            tri_complete,
        )
        if not sel:  # defensive: the selector always admits the
            break  # window head, so this is unreachable — but an
            # empty batch must never spin the loop
        merges.extend(sel)
        vocab.update(l + r for l, r, _ in sel)
        cur = materialize(cur.withColumn(
            "s", apply_merges(F.col("s"), [(l, r) for l, r, _ in sel])
        ))
    LAST_TRAIN_PASSES = passes
    return merges, cur


def learn_merges(
    words: DataFrame, n_merges: int = N_MERGES
) -> list[tuple[str, str, int]]:
    """Merge rules only (see ``train``)."""
    return train(words, n_merges)[0]


def learn_merges_py(word_freq: dict[str, int], n_merges: int = N_MERGES):
    """Plain-Python reference implementation (tests only)."""
    segs = {w: [*w, EOW] for w in word_freq}
    out = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in segs.items():
            f = word_freq[w]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + f
        if not counts:
            break
        (lhs, rhs), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((lhs, rhs, cnt))
        for w, syms in segs.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    merged.append(lhs + rhs)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            segs[w] = merged
    return out
