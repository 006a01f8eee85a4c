"""Source registry: driver parquet tables + derived reference-shaped views.

Plays the role of the reference's ``source()`` resolution + sources.yml
declarations (models/sources.yml:1-18) — a name -> relation mapping — with
Spark temp views as the catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mycarely_saas_dbt_spark.sources.synthetic import DERIVED_VIEWS

DRIVER_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


from functools import lru_cache


@lru_cache(maxsize=None)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as long
    (spark.sql.legacy.parquet.nanosAsLong) and we must convert back."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def source_column_max(sf_dir: str, file_name: str, col: str):
    """Exact MAX of a source parquet column from its FOOTER statistics —
    metadata-only, no Spark job (r15, guide §1.2: eight lifecycle entries
    each paid one full-scan aggregate job for a scalar the file footer
    already carries; the manifest `watermark` does the same trick for
    committed tables). Integer column statistics are exact (not
    estimates); returns None — caller falls back to the Spark aggregate —
    when the file is missing, the column is absent or not an integer
    type, or any non-empty row group lacks usable stats. Other types
    take the fallback because their footer values can disagree with
    Spark's: timestamp stats come back tz-naive (and ns units truncate
    to us) where Spark collects driver-local datetimes, and string stats
    may be truncated."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, file_name)
    try:
        pf = pq.ParquetFile(path)
        if not pa.types.is_integer(pf.schema_arrow.field(col).type):
            return None
        md = pf.metadata
    except Exception:
        return None
    best = None
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        if g.num_rows == 0:
            continue
        found = False
        for ci in range(g.num_columns):
            c = g.column(ci)
            if c.path_in_schema != col:
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                return None
            found = True
            if st.null_count is not None and st.null_count == g.num_rows:
                continue  # all-null group contributes nothing to MAX
            v = st.max
            best = v if best is None or v > best else best
        if not found:
            return None
    return best


def source_num_rows(sf_dir: str, file_name: str):
    """Exact row count of a source parquet file from its footer metadata
    (parquet row counts are exact; no Spark job). None on any failure —
    caller falls back to a Spark count."""
    import pyarrow.parquet as pq

    try:
        return int(
            pq.ParquetFile(os.path.join(sf_dir, file_name)).metadata.num_rows
        )
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for c in _nanos_timestamp_cols(path):
        # ns -> µs via integer div (float div loses precision on int64 nanos);
        # testdata carries µs precision so this is lossless.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# sf_dir currently registered per session — registration is idempotent but
# costs ~1-2s of JVM roundtrips, which would otherwise be paid per query in
# the driver/bench loops. Keyed by CURRENT dir (not a seen-set): the temp
# views are session-global, so switching sf_dir must re-register.
_CURRENT: dict[int, str] = {}


def register_sources(spark: SparkSession, sf_dir: str, *, force: bool = False) -> None:
    """Register the driver tables and the derived reference-shaped views.

    Idempotent and memoized per session; temp views are lazy — Catalyst
    inlines them, so filters/pruning still push down to the parquet scans.
    """
    dir_key = os.path.abspath(sf_dir) if sf_dir else ""
    if _CURRENT.get(id(spark)) == dir_key and not force:
        return
    if sf_dir is None or not os.path.isdir(sf_dir):
        raise FileNotFoundError(
            f"sf_dir {sf_dir!r} does not exist (expected driver testdata dir "
            "like /root/testdata/sf0.01)"
        )
    for name in DRIVER_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    for name, sql in DERIVED_VIEWS.items():
        spark.sql(sql).createOrReplaceTempView(name)
    # NOTE (r14 opt): the memo key must be the DIRECTORY — a loop variable
    # shadowing `path` here used to store ".../embeddings.parquet", so the
    # check above never matched and every call re-registered all tables
    # and views (~0.5s of JVM roundtrips per registered-query invocation).
    _CURRENT[id(spark)] = dir_key


def oracle_with_clause(*views: str) -> str:
    """CTE prefix exposing the derived views to a DuckDB oracle query.

    ``oracle_with_clause('atomic_events') + 'SELECT ... FROM atomic_events'``
    yields self-contained ANSI SQL over the driver's pre-registered raw views.
    Returns a prefix ending in a comma, so callers can chain their own CTEs:
    ``oracle_with_clause('x') + 'main AS (...) SELECT * FROM main'`` — or use
    :func:`oracle_query` for plain SELECTs.
    """
    parts = [f"{name} AS ({DERIVED_VIEWS[name]})" for name in views]
    return "WITH " + ",\n".join(parts) + ",\n"


def oracle_query(main_sql: str, *views: str) -> str:
    """Self-contained oracle SQL: derived-view CTEs + a plain SELECT."""
    if not views:
        return main_sql
    parts = [f"{name} AS ({DERIVED_VIEWS[name]})" for name in views]
    return "WITH " + ",\n".join(parts) + "\n" + main_sql
