"""Corpus sources/sinks: Iceberg tables on a cluster, parquet locally.

The production input (BASELINE.json input_hint) is an Iceberg table of
pages (url, warc_ts, html, text, lang). The Iceberg runtime jar is not
in this container, so table access is gated: a ``catalog.db.table``
name uses ``spark.table`` (works wherever an Iceberg/Hive catalog is
configured); a path reads parquet. Writers mirror the same split.

Reference analogs: the CSV phrase scan (TestMatcher/Program.cs:15-35),
the deduping SQL scan (AutoComplete/Common/DBUtil.cs:14-54).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def is_table_name(source: str) -> bool:
    return "/" not in source and not source.endswith(".parquet")


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the pages corpus from an Iceberg/catalog table or parquet path."""
    if is_table_name(source):
        return spark.table(source)
    return spark.read.parquet(source)


# V2-write failures that mean "this catalog can't do it", where the V1
# saveAsTable path is the documented equivalent — everything else
# (schema mismatch, bad types, permissions) must surface, not silently
# downgrade an atomic Iceberg REPLACE into a non-atomic drop/recreate.
_V1_FALLBACK_CONDITIONS = {
    # session/Hive catalog: no REPLACE TABLE AS SELECT capability
    "UNSUPPORTED_FEATURE.TABLE_OPERATION",
    # V2 append requires the table to exist; V1 creates it (the
    # writer's append contract is create-if-absent)
    "TABLE_OR_VIEW_NOT_FOUND",
    # "Cannot write into v1 table": the target exists but is a V1
    # (session-catalog) table — exactly what saveAsTable handles
    "_LEGACY_ERROR_TEMP_1012",
}


def _existing_bucket_spec(
    spark: SparkSession, target: str
) -> tuple[int, list[str], list[str]] | None:
    """(num_buckets, bucket_cols, sort_cols) of an existing catalog
    table, or None when the table doesn't exist or isn't bucketed.
    Appends to a V1 bucketed table must RE-STATE the spec (Spark
    refuses a plain append with 'Specified bucketing does not match'),
    so the writer looks it up rather than making every caller thread
    the layout through — commit_increment's nightly keys append onto a
    save_state(key_buckets=) table is exactly that case."""
    from pyspark.errors import AnalysisException

    try:
        rows = spark.sql(f"DESCRIBE FORMATTED {target}").collect()
    except AnalysisException:
        return None
    kv = {r["col_name"].strip(): (r["data_type"] or "").strip() for r in rows}
    n, cols = kv.get("Num Buckets"), kv.get("Bucket Columns")
    if not n or not cols:
        return None

    def _parse(s: str) -> list[str]:
        return [c.strip(" `") for c in s.strip("[]").split(",") if c.strip(" `")]

    return int(n), _parse(cols), _parse(kv.get("Sort Columns", ""))


def write_table(
    df: DataFrame,
    target: str,
    mode: str = "overwrite",
    *,
    buckets: int | None = None,
    bucket_by: str | None = None,
    sort_by: str | None = None,
) -> None:
    """Write to an Iceberg/catalog table when named, else parquet.

    Table targets prefer the V2 ``writeTo`` path (atomic replace on
    Iceberg); only the specific catalog-capability failures in
    ``_V1_FALLBACK_CONDITIONS`` fall back to the V1 ``saveAsTable``
    path (same overwrite/append semantics minus atomicity) — any other
    AnalysisException re-raises.

    ``buckets``/``bucket_by`` hash-bucket the table on a key so later
    equi-joins on that key read the table shuffle-free (Spark plans
    the scan's output partitioning as ``HashPartitioning(bucket_by,
    buckets)`` and Exchanges only the other side). Bucket metadata
    lives in a catalog, so a path target raises. The write goes
    straight to the V1 ``bucketBy/sortBy/saveAsTable`` writer — the V2
    ``writeTo`` API has no bucket clause for session/Hive catalogs; on
    Iceberg the equivalent layout is ``partitionedBy(bucket(N, col))``
    plus storage-partitioned joins, which a deployment with the
    Iceberg runtime should prefer for its snapshot atomicity.
    """
    from pyspark.errors import AnalysisException

    if buckets is not None:
        if not is_table_name(target):
            raise ValueError(
                "bucketed writes need a catalog table target (bucket "
                f"metadata lives in the metastore); got path {target!r}"
            )
        if not bucket_by:
            raise ValueError("buckets= requires bucket_by=")
    if is_table_name(target) and mode in ("error", "errorifexists", "ignore"):
        # a caller using errorifexists as a double-write guard must not
        # duplicate the table: create it atomically (the catalog refuses
        # an existing name inside the create itself, so no check-then-
        # act window) and map "already exists" to the mode's answer
        try:
            _create_table(df, target, buckets, bucket_by, sort_by)
        except AnalysisException as e:
            if _condition(e) != "TABLE_OR_VIEW_ALREADY_EXISTS":
                raise
            if mode != "ignore":
                raise ValueError(
                    f"table {target!r} already exists (mode={mode!r})"
                ) from e
        return

    if buckets is not None:
        (
            df.write.mode("overwrite" if mode == "overwrite" else "append")
            .bucketBy(buckets, bucket_by)
            .sortBy(sort_by or bucket_by)
            .saveAsTable(target)
        )
        return
    if is_table_name(target):
        if mode != "overwrite":
            spec = _existing_bucket_spec(df.sparkSession, target)
            if spec is not None:
                n, bcols, scols = spec
                w = df.write.mode("append").bucketBy(n, *bcols)
                if scols:
                    w = w.sortBy(*scols)
                w.saveAsTable(target)
                return
        try:
            if mode == "overwrite":
                df.writeTo(target).createOrReplace()
            else:
                df.writeTo(target).append()
        except AnalysisException as e:
            if _condition(e) not in _V1_FALLBACK_CONDITIONS:
                raise
            df.write.mode("overwrite" if mode == "overwrite" else "append").saveAsTable(
                target
            )
    else:
        df.write.mode(mode).parquet(target)


def _condition(e) -> str | None:
    return e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()


def _create_table(
    df: DataFrame,
    target: str,
    buckets: int | None,
    bucket_by: str | None,
    sort_by: str | None,
) -> None:
    """Create ``target`` from ``df``, raising TABLE_OR_VIEW_ALREADY_EXISTS
    when it exists: the V2 ``writeTo(...).create()``, or the V1
    ``mode("error")`` writer for bucketed tables and catalogs without
    the V2 create."""
    from pyspark.errors import AnalysisException

    if buckets is not None:
        (
            df.write.mode("error")
            .bucketBy(buckets, bucket_by)
            .sortBy(sort_by or bucket_by)
            .saveAsTable(target)
        )
        return
    try:
        df.writeTo(target).create()
    except AnalysisException as e:
        if _condition(e) not in _V1_FALLBACK_CONDITIONS:
            raise
        df.write.mode("error").saveAsTable(target)


def read_csv_phrases(
    spark: SparkSession, path: str, phrase_col: int = 0, entity_type: str = "DVD"
) -> DataFrame:
    """DVD.txt-style CSV: header + quoted fields, column 0 = phrase
    (ref: TestMatcher/Program.cs:15-35 — the regex splitter there is
    what spark.read.csv's quote/escape handling does natively)."""
    df = spark.read.csv(path, header=True, quote='"', escape='"')
    first = df.columns[phrase_col]
    return (
        df.select(F.col(first).alias("phrase"))
        .filter(F.col("phrase").isNotNull())
        .withColumn("type", F.lit(entity_type))
        .withColumn("entity_id", F.row_number().over(Window.orderBy("phrase")) - 1)
        .select("entity_id", "type", "phrase")
    )
