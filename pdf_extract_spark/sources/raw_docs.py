"""Sources & sinks for the extraction pipeline.

Input table shape (FIXTURES.md §1):
    raw_docs(doc_id string, content binary, byte_len long, source string)

Ingest paths:
  * fixture corpus  -> deterministic in-memory corpus (tests/bench)
  * directory of PDFs -> spark.read.format("binaryFile") (cluster path)
  * existing parquet/iceberg table -> spark.read

Sink: documents_spans written as parquet partitioned by an Iceberg-style
``bucket(N, doc_id)`` column (hash-mod).  On a real cluster the same frame
goes to ``df.writeTo("catalog.db.documents_spans").append()`` — parquet is
the fallback without Iceberg runtime jars; its bucket column has the same
bucket count, but hashes with xxhash64 (Iceberg's transform uses Murmur3),
so documents land in different buckets.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema

from ..operators.extraction import SPANS_ARROW, map_documents

RAW_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("byte_len", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

DOCUMENTS_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", from_arrow_type(SPANS_ARROW), True),
    ]
)


def fixture_corpus_df(spark: SparkSession, replicas: int = 1) -> DataFrame:
    """Deterministic raw_docs DataFrame from the fixture corpus."""
    from ..fixtures import corpus

    rows = [
        (doc_id, pdf, len(pdf), doc_id.rsplit("-", 1)[0])
        for doc_id, pdf, _expected in corpus(replicas)
    ]
    return spark.createDataFrame(rows, RAW_DOCS_SCHEMA)


def golden_spans_df(spark: SparkSession, replicas: int = 1) -> DataFrame:
    """Golden documents_spans derived from fixture expected text (the
    fixture builder's own prediction — independent of the engine)."""
    from ..fixtures import EXPECTED_MEDIA, corpus

    rows = []
    for doc_id, _pdf, expected in corpus(replicas):
        family = doc_id.rsplit("-", 1)[0]
        spans = [("media", "", name, 0) for name in EXPECTED_MEDIA.get(family, [])]
        offset = 0
        for seg in expected.split("\n"):
            spans.append(
                ("text" if seg else "para", seg, "", offset)
            )
            offset += len(seg) + 1
        rows.append((doc_id, spans))
    return spark.createDataFrame(rows, DOCUMENTS_SPANS_SCHEMA)


def synthetic_corpus_df(
    spark: SparkSession,
    n_docs: int,
    pct_large: float = 0.05,
    num_partitions: int | None = None,
    large_pages: tuple = (10, 20, 30, 40, 80),
) -> DataFrame:
    """Deterministic benchmark corpus generated ON THE EXECUTORS — the
    driver ships only a range of ids, so corpus size is unbounded by driver
    memory (the pattern a 10^12-doc backfill would use: ids from a
    manifest, bytes fetched executor-side).

    Composition: `pct_large` multi-page docs with page counts cycling
    10/20/30/40/80 (deliberate size skew for the extraction stage), remainder
    cycling the 16 small fixture families.  Same id -> same bytes, always.
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    large_every = max(2, int(round(1.0 / pct_large))) if pct_large > 0 else 0

    from ..fixtures import FIXTURES, fx_large

    fam_names = sorted(FIXTURES)
    cache: dict = {}  # one per task: the kernel is shipped with its closure

    def gen(i):
        if large_every and i % large_every == 0:
            # cycle by large-doc ordinal, not raw id (raw ids of large docs
            # are all multiples of large_every, so i % k would be constant)
            pages = large_pages[(i // large_every) % len(large_pages)]
            name = f"large{pages}"
            if name not in cache:
                cache[name] = fx_large(pages=pages)[0]
        else:
            name = fam_names[i % len(fam_names)]
            if name not in cache:
                cache[name] = FIXTURES[name]()[0]
        content = cache[name]
        yield f"{name}-{i:09d}", content, len(content), name

    ids = spark.range(n_docs).repartition(num_partitions)
    return map_documents(ids, gen, to_arrow_schema(RAW_DOCS_SCHEMA))


def synthetic_html_corpus_df(
    spark: SparkSession,
    n_docs: int,
    num_partitions: int | None = None,
    paras: tuple = (6, 12, 24, 48),
) -> DataFrame:
    """Deterministic HTML corpus generated ON THE EXECUTORS (same unbounded
    pattern as synthetic_corpus_df): page i cycles the fixture families and
    every 4th doc is a large article with a paras-cycle paragraph count —
    the input for the boilerplate-strip throughput bench."""
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    from ..html_fixtures import FAMILIES, make_large_page

    fams = sorted(FAMILIES)
    cache: dict = {}

    def gen(i):
        if i % 4 == 0:
            n_paras = paras[(i // 4) % len(paras)]
            key = f"large{n_paras}-{i % 16}"
            if key not in cache:
                cache[key] = make_large_page(n_paras, seed=i % 16)
            name, html = f"large{n_paras}", cache[key]
        else:
            name = fams[i % len(fams)]
            if name not in cache:
                cache[name] = FAMILIES[name]()[0]
            html = cache[name]
        yield f"{name}-{i:09d}", html

    ids = spark.range(n_docs).repartition(num_partitions)
    return map_documents(ids, gen, pa.schema([("doc_id", pa.string()), ("html", pa.string())]))


def read_pdf_dir(spark: SparkSession, path: str) -> DataFrame:
    """Cluster ingest: a directory (or glob) of PDF files via the
    binaryFile source; pushdown-friendly (pathGlobFilter prunes listings)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(path)
        .select(
            F.col("path").alias("doc_id"),
            F.col("content"),
            F.col("length").alias("byte_len"),
            F.lit("binaryFile").alias("source"),
        )
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath — the
    gate for the native `writeTo` sink.  This sandbox ships no Iceberg
    jars, so here it returns False and sinks fall back to parquet with the
    same bucket count; on a real cluster with
    `--packages org.apache.iceberg:iceberg-spark-runtime-...` plus a
    configured catalog it flips the native path on with no code change."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_spans_iceberg(
    df: DataFrame, table: str, buckets: int = 64, mode: str = "append"
) -> None:
    """Native Iceberg sink: hash-bucketed on doc_id via the bucket(N, col)
    partition transform, hidden-partitioned (readers never see a bucket
    column).  Requires iceberg_available(); `table` is a catalog-qualified
    name like `cat.db.documents_spans`."""
    writer = df.writeTo(table).partitionedBy(F.bucket(buckets, F.col("doc_id")))
    spark = df.sparkSession
    if mode == "overwrite":
        writer.createOrReplace()
    elif spark.catalog.tableExists(table):
        writer.append()
    else:
        writer.create()


def bucketed(df: DataFrame, buckets: int) -> DataFrame:
    """Add ``bucket = pmod(xxhash64(doc_id), buckets)`` and repartition over
    ``min(buckets, defaultParallelism)`` writer tasks, so a
    ``partitionBy("bucket")`` write puts each bucket in exactly one file and
    the files are written in parallel (see `write_spans` for why the count
    is explicit).  Shared by the batch and streaming span sinks."""
    writers = min(buckets, df.sparkSession.sparkContext.defaultParallelism)
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("int")
    ).repartition(writers, "bucket")


def write_spans(
    df: DataFrame,
    path: str,
    buckets: int = 64,
    mode: str = "append",
    iceberg_table: str | None = None,
) -> str:
    """documents_spans sink with Iceberg-style hash bucketing on doc_id.

    With `iceberg_table` set AND the Iceberg runtime on the classpath this
    is a native `writeTo(table).partitionedBy(bucket(N, doc_id))`; otherwise
    parquet + an explicit bucket column (`bucketed`): the same bucket count,
    but hashed with xxhash64 where Iceberg uses Murmur3, so a document may
    land in a different bucket.

    The parquet writer count is explicit, up to one task per slot.  A
    repartition by column alone lets AQE merge a small shuffle into one
    task, which then writes every bucket file in turn, and each file costs
    about 15 ms on a local file system without libhadoop (Hadoop forks a
    ``chmod`` for the file and for its ``.crc``).  A repartition by number
    is never merged.  Returns which sink ran ("iceberg" | "parquet")."""
    if iceberg_table is not None and iceberg_available(df.sparkSession):
        write_spans_iceberg(df, iceberg_table, buckets=buckets, mode=mode)
        return "iceberg"
    (
        bucketed(df, buckets)
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )
    return "parquet"


def read_spans(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("bucket")
