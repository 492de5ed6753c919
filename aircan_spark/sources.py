"""Format-dispatching resource reads — the engine's scan layer.

Replaces the reference's HTTP streamers (/root/reference/aircan/
dependencies/cloud/storage.py:26-222) with declarative Spark reads: the
format dispatch table at storage.py:214-222 becomes ``read_resource``.
Spark handles gzip transparently via Hadoop codecs (reference sniffs the
URL suffix, pipeline_ckan_to_bigquery.py:257-259) and parallelizes splits
natively — the producer/consumer queue machinery disappears.

HTTP sources are fetched driver-side to a Spark-readable local path first
(the reference's streaming was an artifact of having no cluster FS; on a
real cluster sources land on HDFS/S3/GCS and Spark reads them directly).

``read_parquet`` owns every parquet read in the package whose schema is
not recorded: it takes Spark's inferred schema from one footer on the
driver, so a parquet load runs no schema-inference job. Reads that pass a
recorded schema (``ParquetTable``'s scan, the stream readers) do not need
it.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import time
import urllib.error
import urllib.request
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from aircan_spark.schema import sanitize_column_name

# format -> (spark format, reader options); mirrors storage.py:214-222
_FORMATS = {"csv", "tsv", "json", "ndjson", "jsonl", "parquet", "orc"}


def infer_format(path: str, declared: str | None = None) -> str:
    """Format from explicit declaration, else file extension (gzip suffix
    stripped first, matching the reference's URL sniffing)."""
    if declared:
        fmt = declared.lower()
        if fmt in _FORMATS:
            return fmt
        raise ValueError(f"unsupported format: {declared!r}")
    name = path.lower()
    if name.endswith(".gz"):
        name = name[:-3]
    ext = os.path.splitext(name)[1].lstrip(".")
    if ext in _FORMATS:
        return ext
    return "csv"  # reference default (pipeline_ckan_to_bigquery.py:236)


def is_http_url(path: str) -> bool:
    return path.startswith(("http://", "https://"))


# Retry policy mirrors the reference downloader (dependencies_legacy/
# utils.py:320-337): Retry(total=3, backoff_factor=0.3,
# status_forcelist=[402, 408, 502, 503, 504]).
RETRYABLE_HTTP_STATUSES = frozenset({402, 408, 502, 503, 504})
FETCH_MAX_RETRIES = 3
FETCH_BACKOFF_FACTOR = 0.3


def fetch_to_local(
    url: str,
    headers: dict[str, str] | None = None,
    *,
    max_retries: int = FETCH_MAX_RETRIES,
    backoff_factor: float = FETCH_BACKOFF_FACTOR,
    return_hash: bool = False,
) -> str | tuple[str, str]:
    """Download an HTTP resource to a local temp file Spark can read.

    Analog of download_resource_file (dependencies_legacy/utils.py:320-355):
    bounded retry with exponential backoff on flaky-portal statuses
    (402/408/502/503/504) and connection errors, and an MD5 computed while
    streaming (the reference's change-detection side-channel) — pass
    ``return_hash=True`` to get ``(path, md5hex)``.
    """
    suffix = os.path.basename(url.split("?")[0]) or "resource"
    fd, local = tempfile.mkstemp(prefix="aircan_src_", suffix="_" + suffix)
    os.close(fd)

    attempt = 0
    while True:
        try:
            req = urllib.request.Request(url, headers=headers or {})
            digest = hashlib.md5()
            with urllib.request.urlopen(req) as resp, open(local, "wb") as out:
                while True:
                    chunk = resp.read(1 << 20)
                    if not chunk:
                        break
                    out.write(chunk)
                    digest.update(chunk)
            return (local, digest.hexdigest()) if return_hash else local
        except urllib.error.HTTPError as e:
            if e.code not in RETRYABLE_HTTP_STATUSES or attempt >= max_retries:
                raise
        except urllib.error.URLError:
            if attempt >= max_retries:
                raise
        attempt += 1
        # urllib3-style schedule: factor * 2^(attempt-1)
        time.sleep(backoff_factor * (2 ** (attempt - 1)))


def read_resource(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    descriptor: dict[str, Any] | None = None,
    sanitize_names: bool = True,
    options: dict[str, str] | None = None,
    respill: bool = False,
    respill_dir: str | None = None,
    respill_partitions: int | None = None,
) -> DataFrame:
    """Read a resource into a DataFrame.

    - csv/tsv: header row consumed (F4/P3), types inferred when no
      descriptor is given (S6); tsv is normalized properly via
      ``sep='\\t'`` (fixing the reference quirk at storage.py:115-116 where
      TSV bytes were re-emitted but loaded as comma-CSV).
    - ndjson/jsonl: ``spark.read.json`` line mode (S2).
    - json: JSON **array** documents via ``multiLine`` (S3) — the
      reference's ijson incremental parse becomes a declarative read.
    - parquet/orc: native vectorized columnar readers (S4; orc is a
      beyond-reference format Spark provides for free). Parquet goes
      through ``read_parquet``: no schema-inference job.
    - ``.gz`` sources decompress transparently (S5). NOTE a gzip file is
      non-splittable -> single-task read, same as the reference's
      single-threaded stream; at scale recompress on ingest (SURVEY §7.4)
      — ``respill=True`` does exactly that.

    With a ``descriptor``, text sources return every column as a string,
    under the descriptor's field names in field order (csv/tsv by position,
    json by key, a JSON scalar as its text); parquet/orc keep their native
    types. ``validate.conform`` applies the declared types.

    ``respill=True`` (SURVEY §7.4 hard-part 4): when the source is a
    non-splittable ``.gz`` text file, rewrite it ONCE to zstd parquet in
    a staging dir (``respill_dir`` or a fresh tempdir) and return a
    DataFrame over the parquet. The single mandatory decompression task
    round-robins its rows into ``respill_partitions`` (default
    ``sc.defaultParallelism``) shuffle blocks, so the rewrite itself and
    every downstream stage run wide — one serial pass instead of a
    serial pass per query over the source. No-op for already-splittable
    sources (plain text, parquet, orc).
    """
    fmt = infer_format(path, fmt)
    if is_http_url(path):
        path = fetch_to_local(path)

    text_schema: T.StructType | None = None
    if descriptor is not None:
        names = [f["name"] for f in descriptor.get("fields", [])]
        text_schema = T.StructType([T.StructField(n, T.StringType()) for n in names])

    opts = dict(options or {})
    if fmt in ("csv", "tsv"):
        reader = (
            spark.read.option("header", "true")
            .option("sep", "\t" if fmt == "tsv" else opts.pop("sep", ","))
            .option("nullValue", "")
        )
        if text_schema is not None:
            reader = reader.schema(text_schema)
        else:
            reader = reader.option("inferSchema", "true")
        for k, v in opts.items():
            reader = reader.option(k, v)
        df = reader.csv(path)
    elif fmt in ("ndjson", "jsonl", "json"):
        reader = spark.read
        if fmt == "json":
            reader = reader.option("multiLine", "true")
        if text_schema is not None:
            reader = reader.schema(text_schema)
        for k, v in opts.items():
            reader = reader.option(k, v)
        df = reader.json(path)
    elif fmt in ("parquet", "orc"):
        df = read_parquet(spark, path) if fmt == "parquet" else spark.read.orc(path)
        if descriptor is not None:
            df = df.select(*names)
    else:  # pragma: no cover — infer_format already rejects
        raise ValueError(f"unsupported format: {fmt}")

    if sanitize_names:
        renamed = [sanitize_column_name(c) for c in df.columns]
        if renamed != df.columns:
            df = df.toDF(*renamed)
    if respill and path.lower().endswith(".gz") and fmt not in ("parquet", "orc"):
        import tempfile
        import uuid

        base = respill_dir or tempfile.mkdtemp(prefix="aircan_respill_")
        target = os.path.join(base, f"respill_{uuid.uuid4().hex}")
        n = respill_partitions or spark.sparkContext.defaultParallelism
        (
            df.repartition(n)
            .write.option("compression", "zstd")
            .parquet(target)
        )
        df = read_parquet(spark, target)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read the parquet file, directory or glob at ``path`` under the
    schema Spark would infer, without the one-task job Spark runs to infer
    it.

    Spark's inference (``ParquetUtils.inferSchema``) reads one footer: of
    the listed files sorted by Hadoop path string, ``_common_metadata``
    first, then ``_metadata``, then the first data file. Here the same
    listing picks the same file with no job, its footer is read on the
    driver, and Spark's own ``ParquetFileFormat.readSchemaFromFooter``
    converts it under the session conf. An empty listing (Spark raises its
    own error) and ``spark.sql.parquet.mergeSchema=true`` (every footer is
    merged) keep Spark's inference.
    """
    state = spark._jsparkSession.sessionState()
    merging = state.conf().isParquetSchemaMergingEnabled()
    schema_file = None if merging else _schema_file(spark, path)
    if schema_file is None:
        return spark.read.parquet(path)
    jvm = spark._jvm
    footer = jvm.org.apache.parquet.hadoop.Footer(
        schema_file, parquet_footer(spark, schema_file)
    )
    spark_parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    schema = spark_parquet.ParquetFileFormat.readSchemaFromFooter(
        footer, spark_parquet.ParquetToSparkSchemaConverter(state.conf())
    )
    return spark.read.schema(T.StructType.fromJson(json.loads(schema.json()))).parquet(path)


def parquet_footer(spark: SparkSession, path: Any) -> Any:
    """The ``ParquetMetadata`` of the parquet file at the Hadoop ``Path``
    ``path``, read on the driver through the session's Hadoop FileSystem:
    no Spark job, and any path Spark can read."""
    parquet = spark._jvm.org.apache.parquet.hadoop
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    reader = parquet.ParquetFileReader.open(
        parquet.util.HadoopInputFile.fromPath(path, conf)
    )
    try:
        return reader.getFooter()
    finally:
        reader.close()


def _schema_file(spark: SparkSession, path: str) -> Any:
    """The Hadoop ``Path`` whose footer Spark's inference reads, or None
    when nothing is listed. ``path`` is listed as Spark lists it, by the
    ``inputFiles()`` of a read under an empty placeholder schema, which
    runs no Spark job."""
    listed = spark.read.schema(T.StructType()).parquet(path).inputFiles()
    jvm = spark._jvm
    files = [jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(url)) for url in listed]
    summaries = {"_common_metadata": 0, "_metadata": 1}
    return min(
        files,
        key=lambda f: (summaries.get(f.getName(), 2), f.toString()),
        default=None,
    )
