"""Driver-contract query inventory: Spark implementation + DuckDB oracle
per operator (SURVEY.md §2 + north-star extensions).

Conventions that make the driver's order-insensitive value-hash compare
work (see ``__spark_entry__.py``):

- every computed column is aliased identically in Spark and SQL;
- float *aggregates* are rounded (sum-order ulp noise across engines);
  raw stored floats pass through untouched;
- hashes are sha256 hex (``F.sha2(x, 256)`` == duckdb ``sha256(x)``);
- timestamps only appear date_trunc'd or as exact integer epochs
  (``unix_micros`` == duckdb ``epoch_us``);
- top-k orderings always carry a unique-id tie-break.

Queries without an oracle entry (LSH near-dup, SimHash, approximate
ANN) are genuinely not SQL-expressible or engine-neutral — the driver
records a rows-only check for them; exact counterparts of each ARE
oracled (brute-force Jaccard, brute-force cosine top-k).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textfns import word_shingles, words_of
from ..functions.vectors import cosine_similarity, dot
from ..operators import (
    asof, bloom, cleaning, dedup, multimodal, sampling, similarity,
    text as text_ops,
)

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Each query's policy is declared at its ``@q`` site, beside its oracle:
#
# - ``scale`` names the corpus its oracle contract is pinned to. A
#   declared row is checked on that corpus, the sibling directory of the
#   one a run is given (``oracle_sf_dir``), by
#   ``tests/test_queries_oracle.py`` and ``tools/driver_mimic.py`` alike;
#   an undeclared row is checked at the scale it is given.
# - ``unbenched`` is the reason the query is left out of ``bench.py``'s
#   headline set (``benched()``); ``None`` means it is benched.
_SCALE: dict[str, str] = {}
_UNBENCHED: dict[str, str] = {}


def benched() -> list[str]:
    """The names ``bench.py`` times, in the registry's order."""
    return [name for name in QUERIES if name not in _UNBENCHED]


def oracle_sf_dir(name: str, sf_dir: str) -> str:
    """The corpus directory query ``name`` is oracle-checked on in a run
    given ``sf_dir``: the sibling of its declared ``scale``, ``sf_dir``
    itself for an undeclared row."""
    scale = _SCALE.get(name)
    if scale is None:
        return sf_dir
    return os.path.join(os.path.dirname(os.path.normpath(sf_dir)), scale)


def q(
    name: str,
    oracle: str | None = None,
    *,
    scale: str | None = None,
    unbenched: str | None = None,
):
    if unbenched is not None and not unbenched.strip():
        raise ValueError(f"{name}: unbenched needs a reason")

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        if scale is not None:
            _SCALE[name] = scale
        if unbenched is not None:
            _UNBENCHED[name] = unbenched
        return fn
    return deco


#: events.parquet has shipped with ts as TIMESTAMP(NANOS) (which
#: Spark's parquet reader rejects unless a legacy conf is set) in one
#: testdata generation and plain TIMESTAMP(MICROS) in another.  Rather
#: than hardcode either, sniff the parquet FOOTER (driver-side,
#: metadata-only — no data scan) and adapt: nanos → declare the column
#: LongType (bypasses the logical-type check in ANY session, no
#: session-construction conf required) and divide to µs; micros/millis
#: → native read.  Raw-int64 files are disambiguated by footer row-group
#: statistics magnitude.  This keeps every events query working under
#: the evaluation driver's own SparkSession across data regenerations.
_EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

_TS_UNIT_CACHE: dict[tuple[str, float], str] = {}


def events_ts_unit(path: str) -> str:
    """Timestamp unit of the ``ts`` column: ``ns``/``us``/``ms``/``s``
    (annotated logical types) or ``i64:<unit>`` (raw int64 epochs).

    Reads only the parquet footer via pyarrow (works on a single file
    or a directory of parts).  Unannotated int64 columns are classified
    by the first row group's min statistic magnitude.  The cache is
    keyed on (path, mtime) so a regenerated file re-sniffs; only
    footer-derived verdicts are cached — the ``ns`` fallback (taken on
    unreadable footers or absent statistics) is re-attempted each call
    and logged, never silently pinned for the session.
    """
    import os as _os

    try:
        # directory-of-parts: the dir's own mtime misses an in-place
        # part rewrite — key on the newest entry too
        if _os.path.isdir(path):
            mtime = max(
                [_os.path.getmtime(path)]
                + [
                    _os.path.getmtime(_os.path.join(path, f))
                    for f in _os.listdir(path)
                ]
            )
        else:
            mtime = _os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    key = (path, mtime)
    unit = _TS_UNIT_CACHE.get(key)
    if unit is not None:
        return unit
    try:
        import pyarrow.dataset as pads

        dset = pads.dataset(path, format="parquet")
        typ = dset.schema.field("ts").type
        unit = getattr(typ, "unit", None)
        if unit is None:  # raw int64: classify by stats magnitude
            import pyarrow.parquet as pq

            frag = next(iter(dset.get_fragments()))
            pf = pq.ParquetFile(frag.path)
            # resolve against the PARQUET leaf schema, not the Arrow
            # schema — indices only coincide while the schema is flat,
            # and a nested column ordered before ts would desync them
            rg = pf.metadata.row_group(0)
            idx = next(
                i for i in range(rg.num_columns)
                if rg.column(i).path_in_schema.split(".")[0] == "ts"
            )
            stats = rg.column(idx).statistics
            if stats is None or stats.min is None:
                raise ValueError("no row-group statistics for ts")
            lo = stats.min
            # "i64:" prefix: the file needs an explicit integer read +
            # conversion even for µs/ms (no logical annotation to let
            # Spark produce a timestamp natively)
            unit = "i64:" + (
                "ns" if lo > 10**17
                else "us" if lo > 10**14
                else "ms" if lo > 10**11
                else "s"
            )
    except Exception as exc:
        # narrow fallback, not a blanket: io/lookup families plus ANY
        # pyarrow-raised error (ArrowException subclasses Exception
        # directly; its concrete types map onto ValueError/TypeError/
        # IndexError/NotImplementedError/MemoryError and the base).
        # Genuine programming errors in THIS function still raise.
        _fallback_types = (
            ImportError, OSError, KeyError, StopIteration, ValueError,
            NotImplementedError, MemoryError, IndexError, TypeError,
        )
        if not (
            isinstance(exc, _fallback_types)
            or type(exc).__module__.split(".")[0] == "pyarrow"
        ):
            raise
        import warnings

        warnings.warn(
            f"events_ts_unit: footer sniff failed for {path!r} ({exc}); "
            "assuming ns — verify the file's ts encoding", stacklevel=2,
        )
        return "ns"  # deliberately uncached: fallback, not a verdict
    _TS_UNIT_CACHE[key] = unit
    return unit


def _resolve_events_unit(spark: SparkSession, path: str) -> str:
    """``events_ts_unit`` plus an engine-side sanity check of ``ns``
    verdicts. 'ns' is ALSO the sniffer's blind fallback (pyarrow
    missing, unreadable footer, absent statistics) — and blindly
    reading a µs file as raw nanos lands every timestamp in 1970.
    Cheap verification with Spark's own reader: an annotated file
    surfaces a timestamp dtype natively (→ the native branch handles
    it, exactly; ns-annotated data truncates to µs, which IS the
    ``div 1000`` semantics), and a raw int64 file classifies from one
    row's magnitude. True-ns files pass through unchanged."""
    unit = events_ts_unit(path)
    if unit != "ns":
        return unit
    try:
        df = spark.read.parquet(path)
        dt = dict(df.dtypes).get("ts")
        if dt in ("timestamp", "timestamp_ntz"):
            return "us"  # native branch reads any annotated unit exactly
        if dt == "bigint":
            row = df.select("ts").first()
            if row is not None and row[0] is not None:
                v = int(row[0])
                return "i64:" + (
                    "ns" if v > 10**17
                    else "us" if v > 10**14
                    else "ms" if v > 10**11
                    else "s"
                )
    except Exception:
        pass  # unreadable natively too → trust the ns verdict
    return unit


def _ts_to_micros_col(unit: str):
    """Integer-exact µs-epoch column for a raw int64 ``ts`` of the
    given sniffed unit — THE single conversion shared by the batch
    read (``t``) and the stream reader, so the two can never drift.

    ns → µs uses ``div`` (long integer division): the ``/`` operator is
    DOUBLE division, and a double cannot represent ~1.5% of µs-scale
    ns epochs exactly — the quotient lands 1 µs low after the cast,
    silently diverging from DuckDB's exact integer arithmetic."""
    mult = {
        "ns": None, "i64:ns": None,  # integer-divide by 1000
        "i64:us": 1, "i64:ms": 1000, "i64:s": 1_000_000, "s": 1_000_000,
    }[unit]
    col = (
        F.expr("ts div 1000") if mult is None
        else F.col("ts") * mult
    )
    return F.timestamp_micros(col)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Harness-proof reads (no reliance on session-construction confs):
    # timestamp functions (date_trunc, window, NTZ↔TZ casts) follow the
    # session timezone; pin UTC at runtime so results match DuckDB's
    # naive-timestamp arithmetic in any session, not just get_spark()'s.
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # static-conf session: trust its tz
    try:
        # right-size shuffles for the gate-scale data (runtime conf,
        # like the tz pin): a vanilla session's 200 partitions cost
        # ~170 empty tasks of pure scheduling overhead per exchange
        # at sf<=0.1. Real deployments size this to the cluster; AQE
        # coalescing still applies either way.
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 64:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    if name == "events":
        path = f"{sf_dir}/{name}.parquet"
        unit = _resolve_events_unit(spark, path)
        if unit in ("us", "ms"):
            # natively readable logical types in every Spark session.
            # isAdjustedToUTC=false files arrive as TIMESTAMP_NTZ —
            # normalize to TIMESTAMP so every downstream call site
            # (unix_micros, window, tz-aware arithmetic) sees ONE type;
            # the UTC session pin above makes the cast instant-
            # preserving and oracle-identical.
            df = spark.read.parquet(path)
            if dict(df.dtypes).get("ts") == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            return df
        df = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(path)
        # integer epoch → µs timestamp, exact by construction
        # (_ts_to_micros_col) and identical to duckdb's
        # epoch_us/date_trunc on the same file.
        return df.withColumn("ts", _ts_to_micros_col(unit))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =====================================================================
# Reference-parity relational operators (SURVEY.md §2)
# =====================================================================


def t_par(spark: SparkSession, sf_dir: str, name: str, *cols: str) -> DataFrame:
    """Table scan REPARTITIONED to the session's parallelism — the
    input stage for heavy per-row Python kernels (payload synthesis,
    media decode). A small driving table arrives as ONE file
    partition (the sf corpora are single parquet files), and without
    an exchange the kernel's parallelism is bound by FILE COUNT, not
    cores — measured round 11: jpeg_dri_decode_features ran its whole
    27 s of per-payload CPU on one worker (23.3 s wall) because
    documents.parquet is one split. The exchange carries only the
    named columns (ids, maybe text — KBs), bought against seconds of
    per-row work. The same discipline applies at 100 TB whenever a
    compact manifest drives expensive per-row synthesis: repartition
    the MANIFEST, not the heavy output."""
    df = t(spark, sf_dir, name)
    if cols:
        df = df.select(*cols)
    return df.repartition(spark.sparkContext.defaultParallelism)
