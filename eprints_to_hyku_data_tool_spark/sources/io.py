"""Source/sink facade: SURVEY.md §2.1 X01-X06, plus ORC (X01b),
binaryFile media ingestion (X31), and plain-text corpus ingestion (X32).

The reference repo has no code (SURVEY.md §0); this is the IO surface of
an EPrints->Hyku ETL: schema-applied CSV/JSON/XML sources (EPrints export
formats), a JDBC source (EPrints is MySQL-backed), the Bulkrax CSV sink,
and a partitioned parquet sink for intermediates.

Every reader takes an explicit schema at the API boundary (SURVEY §1.2 —
inference is for ad-hoc exploration only); schema-on-read keeps 100 TB
scans single-pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


def _with_corrupt_col(
    schema: StructType | str | None, col: str
) -> StructType | str | None:
    """Spark captures malformed rows into columnNameOfCorruptRecord ONLY
    when that column exists in the schema — otherwise the option is a
    SILENT no-op: malformed rows null-fill and the audit pipeline reads
    zero corruption on corrupt data (code-review r15, verified). The
    facade appends the column so 'capture bad rows' means what it says."""
    if schema is None:
        # Inference paths add the corrupt column themselves.
        return None
    if isinstance(schema, str):
        names = {
            f.strip().split()[0].strip("`").lower()
            for f in schema.split(",")
            if f.strip()
        }
        if col.lower() in names:
            return schema
        return f"{schema}, {col} string"
    if col in schema.names:
        return schema
    return StructType(list(schema.fields) + [StructField(col, StringType())])


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    *,
    header: bool = True,
    multi_line: bool = True,
    delimiter: str = ",",
    quote: str = '"',
    escape: str | None = None,
    encoding: str = "UTF-8",
    mode: str = "PERMISSIVE",
    corrupt_record_col: str | None = None,
) -> DataFrame:
    """X01: EPrints flat CSV export. multiLine=True because EPrints
    abstracts embed newlines inside quoted fields. escape defaults to
    the QUOTE character (RFC4180 doubled-quote unescaping) — a caller
    overriding quote gets a matched pair, not a stale '\"' escape.

    Scale honesty (code-review r14): schema=None falls back to
    inferSchema — an EXTRA full pass over the data, and one malformed
    value flips a column's inferred type for the whole dataset; always
    pass a schema for production scans. With an explicit schema the
    default PERMISSIVE mode silently null-fills malformed rows — pass
    mode='FAILFAST' to refuse corruption, or corrupt_record_col to
    capture bad rows for audit. encoding matters for EPrints exports
    off latin1 MySQL backends: decoding them as UTF-8 produces silent
    mojibake in every non-ASCII field. NB: multiLine makes each file
    single-task (non-splittable) — shard huge exports."""
    reader = (
        spark.read.option("header", header)
        .option("multiLine", multi_line)
        .option("sep", delimiter)
        .option("quote", quote)
        .option("escape", escape if escape is not None else quote)
        .option("encoding", encoding)
        .option("mode", mode)
    )
    if corrupt_record_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
        schema = _with_corrupt_col(schema, corrupt_record_col)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    *,
    multi_line: bool | None = None,
    encoding: str = "UTF-8",
) -> DataFrame:
    """X02: EPrints JSON export — a single top-level array of records
    (multiLine), nested arrays-of-structs for creators/documents.

    ``multi_line`` defaults to SNIFFED, not True (code-review r15,
    verified): multiLine=true over JSON-Lines input silently collapses
    each file to ONE row (Spark parses the first object and discards
    the rest — a 1M-record JSONL file becomes 1 row with no error, and
    PERMISSIVE raises nothing). The sniff reads one line through the
    text source (limit-pushed, any filesystem): a line opening '[' is
    a top-level array (multiLine); a line that parses as a complete
    JSON object is JSONL; an object opened but not closed on its first
    line is a pretty-printed document (multiLine). Pass the flag
    explicitly to skip the probe job."""
    if multi_line is None:
        import json as _json

        # The probe reads through the TEXT source, which always decodes
        # UTF-8 (it has no encoding option) — on a UTF-16/other-encoded
        # file the probe line is mojibake, json.loads fails, and the
        # sniff would silently land on multiLine=True: the exact
        # one-row-collapse-over-JSONL failure the sniff exists to
        # prevent, now keyed to the encoding instead of the shape.
        # Loud instead (code-review r15, second pass).
        if encoding.upper().replace("-", "") not in ("UTF8", "USASCII", "ASCII"):
            raise ValueError(
                f"read_json cannot sniff multi_line under encoding="
                f"{encoding!r} (the probe decodes UTF-8 only) — pass "
                f"multi_line explicitly"
            )
        first = spark.read.text(path).first()
        probe = (first["value"] if first is not None else "").strip()
        if probe.startswith("["):
            multi_line = True
        else:
            try:
                _json.loads(probe)
                multi_line = False  # a complete object per line: JSONL
            except ValueError:
                multi_line = True
    reader = spark.read.option("multiLine", multi_line).option(
        "encoding", encoding
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "eprint",
    schema: StructType | str | None = None,
    charset: str = "UTF-8",
) -> DataFrame:
    """X03: EPrints EP3 XML export (<eprints><eprint>...</eprint></eprints>).

    Uses Spark 4's native XML source. On a Spark 3.x cluster without the
    spark-xml package this raises — the mapInPandas + xml.etree fallback
    shape is the X13 shredding pattern (q_udf.x13) applied to
    wholetext-read files.
    """
    reader = (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("charset", charset)
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """X04: live EPrints MySQL tables. Always pass a numeric
    partition_column + bounds for parallel reads — a single-connection
    JDBC scan serializes the whole table through one task.

    Integration-tested against embedded Apache Derby (bundled on
    Spark's own classpath), full round-trip + predicate pushdown +
    partitioned parallel read; the MySQL endpoint itself differs only
    by url/driver string.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # Defaulting bounds (e.g. 0..2^31) makes the stride so wide
            # that every real row lands in partition 0 — the entire
            # table silently serializes through ONE connection, the
            # exact failure this parameter exists to avoid. Demand real
            # bounds (one SELECT min(),max() round-trip on the source).
            raise ValueError(
                "read_jdbc: partition_column requires explicit "
                "lower_bound/upper_bound (query the source's "
                "min/max first) — default bounds would collapse the "
                "parallel read into a single task"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "error",
    truncate: bool = False,
    properties: dict[str, str] | None = None,
    batch_size: int = 10_000,
) -> None:
    """X04 sink: push a DataFrame into a JDBC table. batchsize controls
    rows per INSERT batch — the default 1000 round-trips too often on a
    remote database; each task opens its own connection, so the write
    parallelism is the DataFrame's partition count (repartition first if
    the target can't take that many concurrent writers).

    Default mode is 'error', NOT 'overwrite' (code-review r14): Spark's
    JDBC overwrite DROPs the target table and recreates it from inferred
    DDL — on a live EPrints MySQL that destroys indexes, primary keys,
    engine and charset settings. For an intentional overwrite that keeps
    the table definition, pass mode='overwrite', truncate=True (TRUNCATE
    instead of DROP+CREATE)."""
    writer = df.write.format("jdbc").option("url", url).option(
        "dbtable", table
    ).option("batchsize", batch_size).option(
        "truncate", str(truncate).lower()
    ).mode(mode)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def read_orc(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """X01b: ORC source (Spark-native, vectorized reader). Same
    predicate-pushdown and column-pruning behavior as parquet — ORC
    carries min/max stride indexes, so pushed filters skip stripes.
    Useful when upstream Hive/Hadoop infrastructure hands over ORC
    instead of parquet."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, *, compression: str = "zstd") -> None:
    """X01b sink: ORC with zstd (Spark 4 default codec family); columnar,
    splittable, stripe-indexed — interchangeable with the parquet sink
    where the consumer is Hive/Trino-side."""
    df.write.mode("overwrite").option("compression", compression).orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """X31: Spark ``binaryFile`` source — one row per file with columns
    (path, modificationTime, length, content binary). The ingestion edge
    of the multimodal pipeline: raw media shards land here, then
    ``functions.multimodal.media_from_files`` maps them into the typed
    binary-column schema.

    Scale notes: listing parallelizes across executors; each file is one
    row, so keep individual media files under Spark's 2 GiB byte-array
    ceiling (bigger blobs should be pre-sharded). Filters on `path` /
    `length` / `modificationTime` push down to the file index and prune
    without reading bytes."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path)


def read_text(
    spark: SparkSession,
    path: str,
    *,
    whole_text: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """X32: plain-text source — one row per line (or per file with
    whole_text=True, the raw-corpus ingestion shape), one `value` string
    column. Pair with ``F.input_file_name()`` for provenance. Splittable
    by line at any scale; whole-file mode is bounded by the 2 GiB
    single-value ceiling like X31."""
    # NB: wholetext/lineSep must go through the .text() kwargs — the
    # generic reader .option() path silently ignores them for this format.
    return spark.read.text(path, wholetext=whole_text, lineSep=line_sep)


def write_bulkrax_csv(
    df: DataFrame, path: str, *, n_files: int = 1, shuffle: bool = False
) -> None:
    """X05: the Bulkrax import CSV — flat strings, multi-values already
    '|'-joined by the transform layer, header row, one file per import
    batch.

    Whitespace: Spark's CSV writer defaults ignoreLeadingWhiteSpace and
    ignoreTrailingWhiteSpace stay on, so every value loses its leading
    and trailing chars <= U+0020 on the way to disk ('  lead' -> 'lead',
    '\\tTab' -> 'Tab', a trailing newline is dropped); U+00A0 and other
    non-ASCII spaces survive. The transform's trim strips only U+0020,
    so a padded abstract differs between the DataFrame and the file.

    coalesce-vs-repartition trade, stated (code-review r14): coalesce
    inserts NO shuffle, but that means it collapses the parallelism of
    the entire upstream narrow stage to n_files tasks — with the default
    n_files=1, every post-join projection and string format since the
    last exchange runs on ONE core. Import batches are small by
    construction (a Hyku import manifest), so the default stands; for a
    large export pass shuffle=True to insert one exchange of the final,
    already-reduced rows and keep the upstream stage parallel."""
    out = df.repartition(n_files) if shuffle else df.coalesce(n_files)
    out.write.mode("overwrite").option("header", True).option(
        "quoteAll", False
    ).option("escape", '"').csv(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], *,
    cluster: bool = True,
) -> None:
    """X06: partitioned parquet for intermediates. Partition columns become
    directory keys -> downstream scans partition-prune on them; at 100 TB
    pick columns with bounded cardinality (year, lang, source), never a
    high-cardinality id.

    Clustered by default (code-review r14): without the repartition,
    every upstream task writes one file per partition key it holds —
    tasks x keys tiny files (2 000 tasks x 1 200 keys = 2.4 M files at
    the 100 TB tier), and downstream listing/footer reads dominate every
    scan. One hash exchange on the partition keys makes it one task per
    key (pass cluster=False only when the input is already clustered, or
    when one key's rows exceed a task — then pre-salt instead)."""
    out = df.repartition(*partition_cols) if cluster else df
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """X06b: bucketed managed table — the co-located-join primitive. Two
    tables bucketed (and sorted) on the same join key with the same
    bucket count join with NO exchange and no sort: at 100 TB this
    removes the dominant shuffle from every fact-to-fact join that
    repeats across a pipeline (asserted plan-level in
    tests/test_bucketing.py)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)
