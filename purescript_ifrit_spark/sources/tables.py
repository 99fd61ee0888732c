"""Source connectors.

The reference has exactly one source: an implicit collection chosen by the
caller (README.md:48-55; SURVEY §2.1 S1) — here, any DataFrame. This module
adds the concrete readers our engine ships: the driver's parquet star schema
plus generic format readers with schema enforcement.

Scale notes: `spark.read.parquet` gives partition discovery, predicate
pushdown and column pruning for free. For 100 TB deployments the same calls
work unchanged on an object store; `maxPartitionBytes` governs split sizing.
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One parquet table from a driver scale-factor directory.

    The `events.ts` column has shipped under three physical parquet
    encodings across driver versions — TIMESTAMP(NANOS) (unreadable by
    default; read as long nanos via spark.sql.legacy.parquet.nanosAsLong),
    TIMESTAMP(MICROS) with no timezone (read as TIMESTAMP_NTZ), and
    TIMESTAMP(MICROS) UTC-adjusted. This loader normalizes all three to a
    plain TimestampType (epoch micros) so every downstream operator sees
    one type.

    Precondition: spark.sql.session.timeZone must be UTC. The NTZ→TZ cast
    interprets the wall-clock in the *session* timezone, and the stored
    wall-clocks are UTC instants — any other session tz would silently
    shift epoch values, so we fail fast instead (the engine's entry points
    — bench.py, conftest.py, api.get_spark — all pin UTC).

    Schema memo: `spark.read.parquet` infers the schema from the parquet
    footers with a Spark job on every call. The StructType it infers is
    memoized per (absolute path, listing signature, parquet-conversion
    confs): the signature is (file, size, mtime_ns) of every file under
    the path, so a rewrite in place misses, and the confs are
    `_PARQUET_SCHEMA_CONFS`, so a read under another type conversion
    misses too. A hit reads with that schema given, which resolves the
    relation with no job. Only the schema is memoized: every call still
    builds a fresh relation with fresh attribute ids (a self-join of two
    calls stays unambiguous), and the `events.ts` normalization and the
    UTC check above run on every call. Paths that are not absolute local
    files or directories (object stores, globs) always infer."""
    if name == "events":
        # scope the legacy conf to this read: it is consulted when the
        # parquet schema is converted (at read() time), so restoring it
        # immediately keeps deferred actions working without silently
        # changing how the session reads OTHER nanos-timestamp parquet
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer FLOOR division, NOT `/` and not bare `div`: float
            # division of ~1.7e18 ns loses precision beyond 2^53, and
            # `div` truncates toward zero — which shifts PRE-epoch
            # timestamps +1µs relative to floor semantics (r8 review:
            # -1500ns must be -2µs, not -1µs, or every flooring bucket
            # disagrees on pre-1970 rows). pmod is sign-safe.
            df = df.withColumn(
                "ts",
                F.expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"),
            )
        elif isinstance(ts_type, T.TimestampNTZType):
            _require_utc_session(spark)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


# Session confs that change the StructType inferred from parquet footers:
# the flags of Spark's parquet-to-Spark schema converter, and the confs
# that change which footers and partition values inference reads.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)

# (path, conf values) -> (listing signature, inferred StructType); a
# rewritten path replaces its entry instead of adding one
_SCHEMAS: Dict[tuple, tuple] = {}


def _listing(path: str) -> Optional[tuple]:
    """((file, size, mtime_ns), ...) for every file under an absolute
    local path, or None when the path is not one."""
    if not os.path.isabs(path):
        return None
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(out)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the inferred schema memoized (see
    load_table). The listing is taken before the inferring read, so a
    rewrite racing the read can only cause a later miss, never a stale
    hit."""
    listing = _listing(path)
    if listing is None:
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(k, None) for k in _PARQUET_SCHEMA_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == listing:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (listing, df.schema)
    return df


def _require_utc_session(spark: SparkSession) -> None:
    """Fail fast when a value-shifting NTZ cast is about to run outside the
    engine's UTC contract (see load_table docstring)."""
    conf_exc = None
    try:
        tz = spark.conf.get("spark.sql.session.timeZone", "")
    except Exception as exc:
        # Spark 4 validates the conf value on read: an invalid ambient
        # timezone (e.g. TZ='' in the environment) throws HERE — surface
        # the engine's actionable message instead of the cryptic
        # INVALID_CONF_VALUE, but CHAIN the original so an unrelated
        # conf-read failure (dead gateway etc.) stays diagnosable
        tz, conf_exc = "<unreadable>", exc
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
        raise ValueError(
            "events.ts is TIMESTAMP_NTZ and the session timezone is "
            f"{tz!r}; normalizing it to TimestampType is only "
            "value-preserving under UTC. Set "
            'spark.conf.set("spark.sql.session.timeZone", "UTC") '
            "(bench.py/conftest.py/api.get_spark already do)."
        ) from conf_exc


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so run_query(spark, "name", ...)
    and spark.sql both see them."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: Optional[str] = None,
    **options,
) -> DataFrame:
    """Generic reader (parquet/json/csv/orc/text). An explicit schema skips
    the inference pass — mandatory at scale (schema inference reads data)."""
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    partition_by: Optional[list] = None,
    **options,
) -> None:
    """Generic sink. `partition_by` produces hive-style partition dirs —
    the unit of partition pruning for downstream readers."""
    writer = df.write.format(fmt).mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list,
    num_buckets: int = 32,
    sort_cols: Optional[list] = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed catalog table: rows are hash-bucketed on
    `bucket_cols` at write time, so joins/aggregations between tables
    bucketed the same way need NO exchange at read time — the co-location
    strategy for repeatedly-joined 100 TB fact tables. (Bucketing requires
    saveAsTable — the bucket metadata lives in the session catalog.)"""
    writer = df.write.format("parquet").mode(mode).bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_text_corpus(
    spark: SparkSession,
    path: str,
    whole_files: bool = True,
    max_file_bytes: Optional[int] = 256 * 1024 * 1024,
) -> DataFrame:
    """Raw-text corpus ingest: (doc_id, path, text) from a directory of
    text files — whole_files=True reads one document per FILE (the corpus
    layout), False one per LINE (jsonl-adjacent layouts pre-parse).

    doc_id is xxhash64 of path (+ line ordinal in line mode): stable
    across reruns and cluster sizes, unlike monotonically_increasing_id
    whose values depend on partition layout. Line ordinals come from a
    wholetext read + in-row split, NOT from row_number over a split file
    scan: Spark's file source bin-packs splits by SIZE, not byte offset,
    so partition order over a multi-split file does not follow the file —
    ordinals derived from partition order would reassign ids across
    cluster sizes. The trade: in BOTH modes a single file must fit in one
    task (wholetext); line mode exists for many-small-files jsonl layouts,
    not one giant file. `max_file_bytes` (default 256 MiB) enforces that
    contract up front via a metadata-only binaryFile listing — one
    oversized file raises with a pointer to read_jsonl_corpus (whose line
    reader splits WITHIN a file) instead of OOMing a task mid-job
    (ADVICE r6). Pass None to skip the listing for trusted layouts."""
    from pyspark.sql import functions as F

    if max_file_bytes is not None:
        over = (
            spark.read.format("binaryFile")
            .load(path)
            .select("path", "length")
            .filter(F.col("length") > max_file_bytes)
            .head(1)
        )
        if over:
            raise ValueError(
                f"read_text_corpus reads each file as ONE task (wholetext); "
                f"{over[0].path!r} is {over[0].length} bytes "
                f"(> max_file_bytes={max_file_bytes}). For large single-file "
                f"line corpora use read_jsonl_corpus (splittable within a "
                f"file), or raise/disable max_file_bytes if the executors "
                f"really have the memory."
            )
    df = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value").alias("text")
    )
    if whole_files:
        return df.select(
            F.xxhash64("path").alias("doc_id"), "path", "text"
        )
    # split semantics mirror spark.read.text's Hadoop line reader: a line
    # terminates at \r\n, \r, or \n (the alternation order makes \r\n one
    # terminator, not two), and a trailing terminator yields no extra
    # empty line
    lines = F.split(F.col("text"), "\r\n|\r|\n")
    lines = F.when(
        (F.size(lines) > 0) & (F.element_at(lines, -1) == ""),
        F.slice(lines, 1, F.size(lines) - 1),
    ).otherwise(lines)
    return (
        df.select("path", F.posexplode(lines).alias("_ln0", "line"))
        .select(
            F.xxhash64("path", (F.col("_ln0") + 1).alias("_ln")).alias(
                "doc_id"
            ),
            "path",
            F.col("line").alias("text"),
        )
    )


_MIME_BY_EXT = {
    "ppm": "image/x-portable-pixmap",
    "pgm": "image/x-portable-graymap",
    "wav": "audio/wav",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "png": "image/png",
    "mp4": "video/mp4",
    "bin": "application/octet-stream",
}


def read_binary_media(
    spark: SparkSession, path: str, glob: Optional[str] = None
) -> DataFrame:
    """Media ingest via Spark's built-in `binaryFile` source → the
    MEDIA_SCHEMA shape every multimodal operator consumes (media_id from
    the path hash, payload bytes, mime guessed from the extension).

    This closes the loop from files on storage to extract_pixel_stats /
    extract_audio_stats / extract_video_stats — the synth_* fixtures are
    only the planted-truth twins. binaryFile is splittable per FILE (one
    file = one row; parallelism = file count), reads lazily, and supports
    pathGlobFilter pushdown so a mixed directory scans only the wanted
    extension."""
    from pyspark.sql import functions as F

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    mime_map = F.create_map(
        *[F.lit(x) for kv in _MIME_BY_EXT.items() for x in kv]
    )
    return df.select(
        F.xxhash64("path").alias("media_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.coalesce(
                F.element_at(mime_map, ext),
                F.lit("application/octet-stream"),
            ).alias("mime"),
            F.col("path").alias("source"),
        ).alias("meta"),
    )


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro ingest — Spark ships avro support as an EXTERNAL module
    (spark-avro jar); raise the standard optional-dependency error when
    the jar is absent rather than leaking an AnalysisException."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:  # AnalysisException without the jar
        if "avro" in str(exc).lower():
            raise NotImplementedError(
                "avro support requires the external spark-avro module "
                "(--packages org.apache.spark:spark-avro_2.13:<version>); "
                "not available in this environment"
            ) from exc
        raise


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: Optional[str] = None,
    id_field: Optional[str] = None,
) -> DataFrame:
    """JSONL corpus ingest — the interchange format LLM training corpora
    actually ship in (one JSON document per line). Built on the native
    json source: splittable per line even WITHIN a file (unlike
    read_text_corpus's wholetext modes), so one multi-GB shard still
    parallelizes.

    Pass `schema` (a DDL string, e.g. "text string, url string") to skip
    schema inference — at 100 TB inference is a full extra pass over the
    data and must never run implicitly; omitting it here is for notebooks.

    doc_id: xxhash64 of `id_field`'s value when given (stable,
    content-derived); else xxhash64 of the canonical JSON of the whole
    row — also content-derived, so reruns and cluster sizes cannot
    reassign ids (the failure mode monotonically_increasing_id has).
    A source field literally named `doc_id` (common in shipped corpora)
    is preserved as `doc_id_raw` so the engine's id column never
    collides with it — pass id_field="doc_id" to derive ids from it.
    Malformed lines surface under the json source's PERMISSIVE default
    as a `_corrupt_record` column holding the raw line — in BOTH modes
    since r8: the explicit-schema path appends the column to the
    declared schema (Spark only populates it when it is declared), so
    schema-first reads no longer reduce a poison line to an
    indistinguishable all-null row. Filter or count corrupt rows
    explicitly; at corpus scale a poison line must not kill the job."""
    from pyspark.sql import functions as F

    reader = spark.read
    if schema is not None:
        if "_corrupt_record" not in schema:
            schema = schema + ", _corrupt_record string"
        reader = reader.schema(schema)
    df = reader.json(path)
    if "doc_id" in df.columns:
        # two columns named doc_id would make every downstream reference
        # AMBIGUOUS_REFERENCE — keep the source's under a stable rename
        df = df.withColumnRenamed("doc_id", "doc_id_raw")
        if id_field == "doc_id":
            id_field = "doc_id_raw"
    if id_field is not None:
        if id_field not in df.columns:
            raise ValueError(
                f"id_field {id_field!r} not in parsed columns {df.columns}"
            )
        # NULL id stays NULL (ADVICE r6): xxhash64 of a NULL column is a
        # constant seed hash, so corrupt/permissive-parsed lines (and
        # genuinely-null ids) would otherwise collapse onto ONE shared
        # doc_id that downstream dedup silently merges. NULL doc_ids are
        # distinguishable and filterable; content-derived fallback is not
        # used here on purpose — a caller who named an id_field wants
        # id-derived ids or an explicit gap, not a silent mixed scheme.
        doc_id = F.when(
            F.col(id_field).isNotNull(),
            F.xxhash64(F.col(id_field).cast("string")),
        )
    else:
        payload = [c for c in df.columns if c != "_corrupt_record"]
        content = F.to_json(F.struct(*sorted(payload)))
        # malformed lines parse to ALL-NULL payload rows, and to_json
        # drops null fields — every corrupt line would share
        # xxhash64('{}'), the exact collapse the id_field branch above
        # guards against (r8 review). Hash the RAW line for corrupt
        # rows instead: distinct garbage stays distinct, identical
        # garbage collapses (consistent with content-derived ids).
        if "_corrupt_record" in df.columns:
            content = F.coalesce(F.col("_corrupt_record"), content)
        doc_id = F.xxhash64(content)
    return df.select(doc_id.alias("doc_id"), "*")


def write_jsonl(df: DataFrame, path: str, mode: str = "error") -> None:
    """JSONL sink twin of read_jsonl_corpus (one JSON object per line,
    one file per partition — repartition first to control shard count)."""
    df.write.mode(mode).json(path)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: Optional[list] = None,
    mode: str = "error",
) -> int:
    """Small-file compaction: rewrite a parquet dataset as
    ceil(total_bytes / target_file_bytes) files and return that count —
    the table-maintenance pass every long-lived 100 TB dataset needs
    (streaming sinks, partitioned appends and per-task writers all leak
    kilobyte files; a scan pays per-file open/footer/list cost, so a
    directory of 100k tiny files reads slower than 100 right-sized ones
    by orders of magnitude).

    The plan is sized from a metadata-only binaryFile listing (file
    lengths come from the namenode/object-store listing — no data is
    read to decide the layout). Without `sort_cols` the rewrite is ONE
    round-robin exchange into even output files; with `sort_cols` it
    range-repartitions + sorts within partitions, so compaction
    establishes clustering and tight per-file footer min/max in the
    same pass (compose with zorder_key for multi-dimension locality —
    operators/layout.write_zordered). The data content is unchanged
    either way: same rows, any row order (parquet carries no order
    contract across files).
    """
    import math

    # no pathGlobFilter: Hive-style writers name data files without a
    # .parquet suffix (000000_0) and a '*.parquet' glob would size such
    # a dataset at 0 bytes → one giant output file. binaryFile already
    # skips _metadata/_SUCCESS/.hidden via the default file-source
    # exclusions, which is the right data-file definition here.
    listing = (
        spark.read.format("binaryFile")
        .load(in_path)
        .select(F.sum("length").alias("bytes"))
        .first()
    )
    total = listing["bytes"] or 0
    if total == 0:
        raise ValueError(
            f"compact_parquet: no data files found under {in_path!r} "
            "(spark.read.parquet would fail on it too) — nothing to compact"
        )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(in_path)
    if sort_cols:
        df = df.repartitionByRange(
            n_files, *[F.col(c) for c in sort_cols]
        ).sortWithinPartitions(*sort_cols)
    else:
        df = df.repartition(n_files)
    df.write.mode(mode).parquet(out_path)
    return n_files
