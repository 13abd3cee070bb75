"""Shape profile of an input directory, to compare generated inputs with
the testdata they stand in for.

    python3 perfbench/datashape.py DIR [DIR ...]

Prints one line per statistic with one column per directory: row counts,
per column the distinct count and min / mean / max, and for the corpus
the figures the text and dedup operators depend on (vocabulary size,
token-count quantiles, exact-duplicate rate, near-duplicate marker rate,
language mix, embedding dimension and norm). A directory holds one
``<table>.parquet`` per table, as a file or a directory of parts.
"""

from __future__ import annotations

import collections
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def _column(col: pa.ChunkedArray) -> dict[str, object]:
    out: dict[str, object] = {"distinct": len(pc.unique(col))}
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        out |= {"min": pc.min(col).as_py(), "mean": pc.mean(col).as_py(), "max": pc.max(col).as_py()}
    elif pa.types.is_timestamp(t):
        out |= {"min": str(pc.min(col).as_py())[:10], "max": str(pc.max(col).as_py())[:10]}
    elif pa.types.is_string(t):
        out |= {"mean_len": pc.mean(pc.utf8_length(col)).as_py()}
    return out


def corpus(d: Path) -> dict[str, object]:
    docs = pq.read_table(d / "documents.parquet", columns=["text", "lang"])
    texts = docs.column("text").to_pylist()
    toks = [t.split(" ") for t in texts]
    lens = np.array([len(t) for t in toks])
    vocab = collections.Counter(w.split("~")[0] for ts in toks for w in ts)
    langs = collections.Counter(docs.column("lang").to_pylist())
    emb = pq.read_table(d / "embeddings.parquet", columns=["embedding"]).column("embedding")
    vecs = np.array(emb.to_pylist(), dtype=np.float64)
    rng = np.random.default_rng(0)
    i, j = rng.integers(0, len(vecs), (2, 2000))
    cos = np.abs(np.einsum("ij,ij->i", vecs[i], vecs[j])[i != j])
    return {
        "docs.vocabulary": len(vocab),
        "docs.tokens.p10/p50/p90": "/".join(str(int(q)) for q in np.percentile(lens, [10, 50, 90])),
        "docs.tokens.min/max": f"{lens.min()}/{lens.max()}",
        "docs.exact_dup_rate": 1 - len(set(texts)) / len(texts),
        "docs.dup_marker_rate": sum(t[-1] == "dup" for t in toks) / len(toks),
        "docs.lang_mix": " ".join(f"{k}={v / len(texts):.2f}" for k, v in sorted(langs.items())),
        "emb.dim": vecs.shape[1],
        "emb.norm_mean": float(np.linalg.norm(vecs, axis=1).mean()),
        "emb.abs_cos_random_pairs": float(cos.mean()),
    }


def profile(d: Path) -> dict[str, object]:
    out: dict[str, object] = {}
    for t in TABLES:
        table = pq.read_table(d / f"{t}.parquet")
        out[f"{t}.rows"] = table.num_rows
        for name in table.column_names:
            if name == "embedding":
                continue
            for stat, v in _column(table.column(name)).items():
                out[f"{t}.{name}.{stat}"] = v
    return out | corpus(d)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    profiles = [profile(Path(d)) for d in argv]
    keys = list(dict.fromkeys(k for p in profiles for k in p))
    width = max(map(len, keys))
    print(f"{'statistic':{width}}  " + "  ".join(f"{d[-24:]:>24}" for d in argv))
    for k in keys:
        print(f"{k:{width}}  " + "  ".join(f"{_fmt(p.get(k, '-')):>24}" for p in profiles))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
