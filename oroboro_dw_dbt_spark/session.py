"""SparkSession factory.

One place to pin every config that affects correctness or scale:

- ANSI mode stays ON (Spark 4 default). All BigQuery ``SAFE.*``
  semantics are expressed through ``try_*`` functions instead of
  globally disabling ANSI (SURVEY §7.2 decision).
- UTC session timezone so timestamp comparisons against the DuckDB
  oracle (UTC-naive) are stable.
- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and broadcast-join demotion/promotion — the scale story for joins
  on skewed keys (NULL-heavy FKs, hot partners) is delegated here
  rather than hand-salted, matching how the reference delegated the
  same concerns to BigQuery (SURVEY §4).
- Host-sized parallelism and heap: without ``SPARK_GRAFT_CPUS`` the
  master is ``local[os.cpu_count()]`` with as many shuffle partitions,
  not a 32-core assumption; without ``SPARK_GRAFT_DRIVER_MEM`` the heap
  is 60% of physical RAM, not 24g. Every size rule that reads
  ``spark.driver.memory`` (the broadcast gate, the LSH spelling and
  checkpoint-level choices) then believes a heap the host can back.
  A malformed knob (``SPARK_GRAFT_CPUS=0``, ``SPARK_GRAFT_DRIVER_MEM=lots``)
  raises ``ValueError`` when read, before any JVM starts, instead of
  surfacing later as ``local[0]`` or a JVM launch error.
- Generated classes are reused across repeated builds. The codegen
  cache holds ``CODEGEN_CACHE_ENTRIES`` classes, not Spark's default
  100: a build of the reference mart has 117 distinct classes (after
  the 83 of its fixture set-up) and a cycle of the seven
  ``corpus_dedup`` benchmark ops 191, so at 100 entries every repeated
  build evicts and recompiles its own classes with Janino (108-116 per
  warm sf0.1 mart build, 213 per warm corpus cycle) and HotSpot re-JITs
  them. 1000 keeps a full cycle of both with headroom; an entry is a
  few kilobytes of source and bytecode. Whole-stage classes are not
  named after their codegen stage id (``useIdInClassName=false``): AQE
  numbers stages in the order they are re-planned, which varies from
  run to run, so id-named classes miss the cache on 0-30 classes per
  warm mart build however large the cache.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 1000


def parse_mem(s: str) -> int:
    """'24g' / '512m' / '4gb' / '1t' / bare bytes → bytes.

    Spark accepts both the bare-letter ('4g') and the 'b'-suffixed
    ('4gb') spellings for every memory conf; ADVICE r11 — the latter
    used to raise here, crashing verify='auto' on a perfectly valid
    spark.executor.memory. A trailing 'b' after a unit letter is
    stripped; a LONE trailing 'b' ('1b') is Spark's explicit-bytes
    spelling and parses as bare bytes."""
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if len(s) >= 2 and s[-1] == "b" and s[-2] in mult:
        s = s[:-1]
    elif len(s) >= 2 and s[-1] == "b" and s[-2].isdigit():
        s = s[:-1]
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(float(s))


def host_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the host's core count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if not env:
        return os.cpu_count() or 1
    try:
        n = int(env)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS={env!r}: expected a positive integer core count")
    return n


def driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else 60% of the host's
    physical RAM, in MiB."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        try:
            size = parse_mem(env)
        except (ValueError, OverflowError):
            size = 0
        if size < 1:
            raise ValueError(
                f"SPARK_GRAFT_DRIVER_MEM={env!r}: expected a memory size such as '4g' or '512m'"
            )
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{int(0.6 * ram) >> 20}m"


def get_spark(
    app_name: str = "oroboro_dw_dbt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-aware defaults.

    ``shuffle_partitions`` defaults to the local core count — right for
    local runs; on a real cluster, set it to 2-3× total executor cores
    (or rely on AQE coalescing from a higher initial value).
    """
    cpus = host_cpus()
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) carries NO parquet footer statistics,
        # which silently disables zone-map file skipping on timestamp
        # columns (table_format.py read_pruned); TIMESTAMP_MICROS is the
        # modern physical type and round-trips µs-precision data exactly
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
