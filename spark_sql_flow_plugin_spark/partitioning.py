"""Split-starvation gate for CPU-heavy stages over small local inputs.

Every synthetic bench table is a single-file, single-row-group parquet:
Spark plans byte-range splits, but parquet assigns a whole row group to
the one split containing its midpoint, so EVERY scan delivers all rows
in ONE task regardless of the split count. Any CPU-heavy expression
fused into the scan stage (tokenize, per-char hashing, vector math,
map-side partial aggregation) then runs on a single core of the 32.

``spread`` repartitions a frame to ``defaultParallelism`` ONLY when the
backing file is split-starved (estimated splits < parallelism) — the
``augmented_documents`` gate, shared. A multi-TB production table has
plenty of splits and row groups, so the gate never fires there and no
shuffle is added; this is the scale-adaptive form the optimization
guide's §2.5 "input skew" remedy calls for (fix at the source if you
can; otherwise repartition immediately after the read).

The gate stats the file rather than calling df.rdd.getNumPartitions —
the DataFrame->RDD conversion costs ~1 s of driver time per query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Size floor for the tokenize-battery spread call sites (text/frequency/
#: pipeline): below it the starved scan's work is too cheap for the added
#: exchange to pay for itself (r16-opt measurement, see ``spread``).
SPREAD_MIN_BYTES = 2 << 20

#: Spark byte-string suffix multipliers (JavaUtils.byteStringAsBytes).
_BYTE_SUFFIXES = {
    "": 1,
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}


def _byte_string_as_bytes(raw: str, default: int = 134217728) -> int:
    """Parse a Spark size conf ('128m', '1g', '134217728b', plain digits)
    with JavaUtils.byteStringAsBytes semantics: numeric value times the
    suffix multiplier. Digit-stripping (the previous implementation)
    parsed '128m' as 128 BYTES, exploding the estimated split count and
    silently disabling the starvation gate on any session that sets the
    conf with a size suffix. Fractional values ('1.5g'), which Spark
    rejects too, get the default."""
    s = str(raw).strip().lower()
    i = len(s)
    while i > 0 and not s[: i][-1].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:].strip()
    if not num.isdigit() or suffix not in _BYTE_SUFFIXES:
        return default
    return int(num) * _BYTE_SUFFIXES[suffix]


def _size_and_splits(spark: SparkSession, path: str) -> tuple:
    """(total bytes, input splits Spark would plan) for ``path``.
    Non-statable paths (object stores) return (+inf, +inf) — i.e.
    'plenty of splits, don't add a shuffle', the correct default for
    any multi-TB table."""
    try:
        if os.path.isfile(path):
            size = os.path.getsize(path)
        else:
            # Recursive walk, regular files only: nested/partitioned
            # parquet layouts would otherwise under-report (getsize on a
            # subdirectory entry returns the dirent size, not its
            # contents) and a genuinely large local table could be judged
            # split-starved and get an unnecessary full-table shuffle.
            os.stat(path)  # missing/remote paths raise -> (inf, inf);
            # os.walk alone would silently yield nothing (size 0) and the
            # gate would then shuffle every non-statable table
            size = 0
            for root, dirnames, files in os.walk(path):
                dirnames[:] = [
                    dn for dn in dirnames if not dn.startswith(("_", "."))
                ]
                for f in files:
                    if f.startswith(("_", ".")):
                        continue
                    fp = os.path.join(root, f)
                    if os.path.isfile(fp):
                        size += os.path.getsize(fp)
    except OSError:
        return float("inf"), float("inf")
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    max_bytes = _byte_string_as_bytes(raw)
    return float(size), max(1.0, size / max_bytes)


def estimated_splits(spark: SparkSession, path: str) -> float:
    """Input splits Spark would plan for ``path`` (see _size_and_splits)."""
    return _size_and_splits(spark, path)[1]


def ids_fit_int(path: str, column: str) -> bool:
    """True when ``column``'s parquet footer min/max statistics prove its
    value domain fits a 32-bit signed INT — the scale-adaptive gate for
    narrowing a BIGINT id through shuffles and cached adjacency arrays
    (optimization guide §2.3 "narrower types ... only when provably
    safe"). Driver-side metadata read only, no Spark job. Non-statable
    paths, directory tables, or absent statistics return False: ids stay
    BIGINT, the safe default for any table whose domain is unknown."""
    try:
        if not os.path.isfile(path):
            return False
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        lo = hi = None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = None
            for i in range(rg.num_columns):
                c = rg.column(i)
                if c.path_in_schema == column:
                    st = c.statistics
                    break
            if st is None or not st.has_min_max:
                return False
            if not isinstance(st.min, int) or not isinstance(st.max, int):
                return False
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        return lo is not None and lo >= -(2**31) and hi < 2**31
    except Exception:
        return False


def spread(
    spark: SparkSession,
    df: DataFrame,
    sf_dir: str,
    table: str,
    *keys: str,
    min_bytes: int = 0,
) -> DataFrame:
    """Gate-repartition ``df`` (rows of ``{sf_dir}/{table}.parquet``) to
    defaultParallelism on ``keys`` when the source file is split-starved;
    identity otherwise. Hash-repartitioning on a real key (never rand())
    keeps the row-to-partition mapping deterministic under task retry.

    ``min_bytes`` adds a lower size bound: below it the starved scan's
    work is too cheap for the added exchange to pay for itself (measured
    r16-opt: the six tokenize-battery text queries were neutral-to-WORSE
    with an unconditional gate on the 0.58 MB sf0.1 corpus but multiples
    faster on the 5.9 MB sf1 corpus, where one core carries 10x the
    tokenize CPU). The default 0 keeps the original always-fire gate for
    call sites that measured better even at sf0.1."""
    n_parts = spark.sparkContext.defaultParallelism
    size, splits = _size_and_splits(spark, f"{sf_dir}/{table}.parquet")
    if splits < n_parts and size >= min_bytes:
        return df.repartition(n_parts, *keys)
    return df
