"""Local mirror of the driver's correctness gate.

Runs every catalog query on Spark and its oracle on DuckDB at the given
sf dir, then compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).

Usage: python tools/check_correctness.py [--bare] [sf_dir] [query ...]

``--bare`` runs the Spark side under a deliberately UNCONFIGURED
SparkSession (no factory confs: INT96 timestamps, default timezone,
default shuffle partitions) — the driver's environment. An entry that
is green under the factory session but red under --bare has a hidden
session-conf dependence (r07's `eng_metadata_count`: zone maps missing
because INT96 footers carry no timestamp statistics). It takes only
the factory's host-sized core count and heap.
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

sys.path.insert(0, ".")


def norm_cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(rows)


def oracle_dtype_class(series) -> str | None:
    """Classify a DuckDB ``fetchdf`` column the way the driver's pandas
    hasher will stringify it. Returns None when undecidable (all-NULL)."""
    import datetime
    import decimal

    import pandas.api.types as pt

    if pt.is_bool_dtype(series):
        return "b"
    if pt.is_integer_dtype(series):
        return "i"
    if pt.is_float_dtype(series):
        return "f"
    if pt.is_datetime64_any_dtype(series):
        return "dt"
    for v in series:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        if isinstance(v, bool):
            return "b"
        if isinstance(v, int):
            return "i"
        if isinstance(v, float):
            return "f"
        if isinstance(v, decimal.Decimal):
            return "dec"
        if isinstance(v, str):
            return "s"
        if isinstance(v, (bytes, bytearray)):
            return "bin"
        if isinstance(v, (datetime.date, datetime.datetime)):
            return "dt"
        return "obj"
    return None


def spark_dtype_class(field, has_null: bool) -> str:
    """Driver-side pandas class of a Spark result column.

    Nullable integer columns arrive at the driver's pandas frame as
    float64 (Arrow → pandas widens int-with-NULL), so an int column
    WITH observed NULLs is class 'f' — matching the oracle's
    NaN-induced float64, which is why NULL-y BIGINT columns are not
    hazards while DuckDB HUGEINT `//` results (float64 with zero
    NaNs) are (VERDICT r06 What's-wrong #1)."""
    t = field.dataType.typeName()
    if t in ("byte", "short", "integer", "long"):
        return "f" if has_null else "i"
    if t in ("float", "double"):
        return "f"
    if t.startswith("decimal"):
        return "dec"
    if t == "boolean":
        return "b"
    if t == "string":
        return "s"
    if t in ("date", "timestamp", "timestamp_ntz"):
        return "dt"
    if t == "binary":
        return "bin"
    return "obj"


# Classes whose *string forms* diverge at a dtype-faithful hasher:
# "1000000" (i) vs "1000000.0" (f) vs "1.2500" (dec) vs "True" (b).
# dt-vs-s and similar are canonicalized by the driver (date suites have
# been green since r01), so only numeric/bool class splits are hazards.
_NUMERIC_CLASSES = {"i", "f", "dec", "b"}


def dtype_hazards(
    sfields, s_has_null: dict[str, bool], odf
) -> list[tuple[str, str, str]]:
    """(column, spark_class, oracle_class) pairs that the driver's
    dtype-faithful hasher would stringify differently on the two
    engines even when the values are numerically identical."""
    out = []
    oclasses = {c: oracle_dtype_class(odf[c]) for c in odf.columns}
    for fld in sfields:
        sc = spark_dtype_class(fld, s_has_null.get(fld.name, False))
        oc = oclasses.get(fld.name)
        if oc is None:
            continue
        if sc != oc and sc in _NUMERIC_CLASSES and oc in _NUMERIC_CLASSES:
            out.append((fld.name, sc, oc))
    return out


def complex_cols(cols: list[str], rows: list[tuple]) -> list[str]:
    """Columns whose cells the DRIVER's pandas canonicalizer cannot hash.

    The driver sorts a pandas frame of the result; unhashable cells (list /
    dict / set / Row / ndarray) crash it with "unhashable type" (round 4,
    ss_label_centroids). The local mirror stringifies cells, so without this
    check such an entry false-greens locally and red-crashes at the gate.
    """
    bad: set[str] = set()
    for r in rows[:1000]:
        for c, v in zip(cols, r):
            if v is not None and not isinstance(
                v, (bool, int, float, str, bytes)
            ) and not hasattr(v, "isoformat"):  # date/datetime ok
                try:
                    hash(v)
                except TypeError:
                    bad.add(c)
    return sorted(bad)


def main() -> int:
    argv = sys.argv[1:]
    bare = "--bare" in argv
    argv = [a for a in argv if a != "--bare"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from oroboro_dw_dbt_spark.operators import QUERIES
    from oroboro_dw_dbt_spark.sources.testdata import TABLES

    if bare:
        from pyspark.sql import SparkSession

        from oroboro_dw_dbt_spark.session import driver_memory, host_cpus

        spark = (
            SparkSession.builder.master(f"local[{host_cpus()}]")
            .appName("correctness_check_bare")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", driver_memory())
            .getOrCreate()
        )
        print(
            "BARE session: outputTimestampType="
            f"{spark.conf.get('spark.sql.parquet.outputTimestampType')} "
            f"tz={spark.conf.get('spark.sql.session.timeZone')}"
        )
    else:
        from oroboro_dw_dbt_spark.session import get_spark

        spark = get_spark("correctness_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    # corpus-derived SemDeDup parameters match the oracle's PINNED
    # constants only up to the SF where the derived count leaves the
    # floor (N > 2048 for both 6 planes and 16 cells); past that the
    # Spark side uses more cells than the oracle SQL and a hash
    # mismatch here is a false red, not a bug (ADVICE r07).
    n_emb = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
    from oroboro_dw_dbt_spark.dedup.semdedup import (
        IVF_CELLS,
        SEM_PLANES,
        ivf_cells_for,
        sem_planes_for,
    )

    # per-entry flags (ADVICE r08): each family leaves its oracle
    # contract independently — planes for dd_semdedup, cells for
    # dd_semdedup_ivf — so one family drifting past its pinned floor
    # must not cost the other its oracle coverage at this SF.
    _out_of_contract = {
        "dd_semdedup": sem_planes_for(n_emb) > SEM_PLANES,
        "dd_semdedup_ivf": ivf_cells_for(n_emb) > IVF_CELLS,
    }

    failures = []
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        if _out_of_contract.get(name, False):
            print(
                f"skip {name}: corpus-derived parameter exceeds the "
                f"oracle's pinned constant at N={n_emb} — out of oracle "
                "contract at this SF (certify at sf0.01)"
            )
            continue
        try:
            sdf = spec.builder(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        bad = complex_cols(scols, srows)
        if bad:
            print(
                f"FAIL {name}: driver-incompatible complex-typed columns {bad} "
                "(pandas canonicalizer cannot hash list/map cells — flatten "
                "to scalars, e.g. posexplode to long format)"
            )
            failures.append(name)
            continue
        if spec.oracle is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            ocur = con.execute(spec.oracle)
            ocols = [d[0] for d in ocur.description]
            orows = ocur.fetchall()
            odf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            failures.append(name)
            continue
        # dtype parity: the driver hashes pandas frames dtype-faithfully,
        # so an int/float/decimal/bool class split reds at the gate even
        # when fetchall()-level values match (r06's dd_lsh_recall_report).
        s_has_null = {
            c: any(r[i] is None for r in srows)
            for i, c in enumerate(scols)
        }
        haz = dtype_hazards(sdf.schema.fields, s_has_null, odf)
        if haz:
            print(
                f"FAIL {name}: driver dtype hazard {haz} "
                "(spark vs DuckDB-pandas class — the value hash below may "
                "still match at fetchall level; the driver's will not)"
            )
            failures.append(name)
            continue
        sh, sn = table_hash(scols, srows)
        oh, on = table_hash(ocols, orows)
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns differ spark={sorted(scols)} oracle={sorted(ocols)}")
            failures.append(name)
        elif sn != on:
            print(f"FAIL {name}: rowcount spark={sn} oracle={on}")
            failures.append(name)
        elif sh != oh:
            print(f"FAIL {name}: hash mismatch ({sn} rows)")
            # show first differing line for debugging
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sl = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in srows)
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            ol = sorted("\x1f".join(norm_cell(r[i]) for i in oorder) for r in orows)
            for a, b in zip(sl, ol):
                if a != b:
                    print(f"  spark : {a[:200]}")
                    print(f"  oracle: {b[:200]}")
                    break
            failures.append(name)
        else:
            print(f"ok   {name}: {sn} rows, hash {sh}")

    n_run = len(only) if only else len(QUERIES)
    print(f"\n{n_run - len(failures)}/{n_run} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
