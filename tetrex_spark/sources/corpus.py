"""Corpus sources: the canonical input shape, deterministic fixtures, and
the adapter from the driver-provided `documents` table.

Canonical corpus schema (BASELINE.json input_hint):
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Fixtures re-express the reference's golden test data in corpus shape
(FIXTURES.md §2-4): motif_mini = test/data/file1.fa + file2.fa
(/root/reference/test/cli/kbioreg_test.cpp:32-79), motif_split5 =
data/dna_example_split (/root/reference/README.md:42-51), webtext_small =
a skewed seeded web-text corpus with planted payloads. All generation is
seed-42 deterministic; timestamps are fixed-epoch + row offset (no
wall-clock anywhere).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

_EPOCH = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)


def _rows(items):
    return [
        (url, _EPOCH + dt.timedelta(seconds=i), html, text, lang)
        for i, (url, html, text, lang) in enumerate(items)
    ]


def motif_mini(spark: SparkSession) -> DataFrame:
    """2 hosts / 4 docs — texts are the reference's file1.fa/file2.fa
    records verbatim so its golden hit-set transfers exactly
    (query 'AC+G' -> snippet1.1 'ACCG', snippet1.2 'ACG')."""
    items = [
        ("http://bin1.example/snippet1.1", None, "AACCGG", "en"),
        ("http://bin1.example/snippet1.2", None, "AACGG", "en"),
        ("http://bin2.example/snippet2.1", None, "AACCTT", "en"),
        ("http://bin2.example/snippet2.2", None, "TTCCAA", "en"),
    ]
    return spark.createDataFrame(_rows(items), CORPUS_SCHEMA)


def motif_split5(spark: SparkSession) -> DataFrame:
    """5 hosts / 5 docs — the reference's dna_example_split corpus
    (README.md:42-51); golden query 'A(C+|G+)T' hits s1, s2, s4."""
    texts = [
        "ACTGACTGACTGATCC",
        "GTGACTGAGTGATTCG",
        "AAAAAAACGATCGACA",
        "CCCGTACCCTTGTGAA",
        "CCCGTACCCGTGTGAA",
    ]
    items = [
        (f"http://s{i + 1}.example/", None, t, "en") for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(_rows(items), CORPUS_SCHEMA)


_WORDS = (
    "the a spark join filter window merge sort agg scan table row column key "
    "value data stream batch query group order part line customer hash small "
    "big fast slow vector dup token index bloom shard"
).split()


def webtext_small(spark: SparkSession) -> DataFrame:
    """8 hosts / 64 docs, skewed (h0 owns 32), seeded token soup with
    planted payloads (FIXTURES.md §4):
      - token shingle 'approximate membership query' in exactly 5 urls
      - char motif 'w.{2}ld' (the word 'world') in exactly 2 urls
      - token 'zyzzyva' exactly 37 times corpus-wide
      - 4 docs with text=NULL + well-formed html (extraction path)
      - 2 docs with lang='de'
    """
    rng = np.random.default_rng(42)
    # host assignment: h0 gets 32 docs, h1..h7 split the rest
    hosts = ["h0"] * 32 + [f"h{1 + i % 7}" for i in range(32)]
    lengths = [int(x) for x in rng.integers(20, 220, size=64)]
    docs = []
    for i in range(64):
        words = [ _WORDS[j] for j in rng.integers(0, len(_WORDS), size=lengths[i]) ]
        docs.append(words)
    # plant 'approximate membership query' in docs 3, 11, 19, 40, 59
    for d in (3, 11, 19, 40, 59):
        docs[d][5:5] = ["approximate", "membership", "query"]
    # plant 'world' (motif w.{2}ld) in docs 7 and 44
    for d in (7, 44):
        docs[d].append("world")
    # plant zyzzyva exactly 37 times spread deterministically
    slots = rng.choice(64, size=37, replace=True)
    for d in slots:
        docs[int(d)].insert(0, "zyzzyva")
    items = []
    for i in range(64):
        text = " ".join(docs[i])
        lang = "de" if i in (13, 27) else "en"
        if i in (2, 22, 42, 62):  # extraction path: text NULL, html carries it
            html = ("<html><head><title>t</title></head><body><p>"
                    + text + "</p></body></html>").encode()
            items.append((f"http://{hosts[i]}.example/doc/{i}", html, None, lang))
        else:
            items.append((f"http://{hosts[i]}.example/doc/{i}", None, text, lang))
    return spark.createDataFrame(_rows(items), CORPUS_SCHEMA)


FIXTURES = {
    "motif_mini": motif_mini,
    "motif_split5": motif_split5,
    "webtext_small": webtext_small,
}


# -- adapters ----------------------------------------------------------------


def read_corpus(spark: SparkSession, src: str) -> DataFrame:
    """Corpus from a path OR a catalog table name.

    Anything with a path separator (or a .parquet suffix) is read as
    parquet; everything else goes through ``spark.read.table`` — which is
    how an Iceberg table (``catalog.db.pages``) arrives once the Iceberg
    runtime + catalog are configured on the cluster (north-rule target;
    this sandbox has no Iceberg jars, so the table path is exercised with
    session-catalog views in tests). Iceberg then supplies snapshot
    isolation + partition pruning underneath the exact same plan. A path
    goes through read_parquet, so parquet Spark wrote costs no job."""
    if "/" in src or src.endswith(".parquet"):
        return read_parquet(spark, src)
    return spark.read.table(src)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path), with the schema recorded in the footer of
    parquet Spark wrote (spark_footer_schema) instead of Spark's
    schema-inference job; other parquet, and any read under
    spark.sql.parquet.mergeSchema, keeps the inference. Partition
    columns are discovered from the directory names either way."""
    schema = None
    if spark.conf.get("spark.sql.parquet.mergeSchema") != "true":
        schema = spark_footer_schema(path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def spark_footer_schema(path: str) -> T.StructType | None:
    """The schema Spark recorded in the footer of the parquet it wrote at
    `path` (a file, or a directory's first file, as Spark's own inference
    reads without mergeSchema), read on the driver with pyarrow; None
    when the driver cannot read `path` or the footer carries no Spark
    schema."""
    import json
    from urllib.parse import urlparse

    import pyarrow.dataset as ds

    if urlparse(path).scheme not in ("", "file"):
        return None
    try:
        meta = ds.dataset(path, format="parquet").schema.metadata or {}
    except (OSError, ValueError):
        return None
    raw = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    return None if raw is None else T.StructType.fromJson(json.loads(raw))


def rebalance(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan yields fewer splits than
    the cluster has slots (single-file / single-row-group inputs serialize
    every downstream mapInPandas onto one task — observed 6.7s -> <1s on
    the sf0.1 bloom build). On a real many-file corpus (100 TB => tens of
    thousands of splits) this is a no-op: parts >= slots, no shuffle is
    added. The shuffle it does add moves only the under-split input
    (tiny by construction), never a large table."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-provided documents table, rebalanced for slot-width
    parallelism (see rebalance)."""
    return rebalance(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def documents_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver-provided documents table
    (doc_id, text, lang, source, n_chars) to the corpus shape. url embeds
    source + doc_id (host = source, so bin assignment keys on source)."""
    df = read_documents(spark, sf_dir)
    return df.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit(".example/doc/"), F.col("doc_id"))
        .alias("url"),
        (F.lit(_EPOCH) + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def host_of_url(col):
    """Host component of a url column (JVM-side, no UDF)."""
    return F.parse_url(col, F.lit("HOST"))


def with_bin_id(
    df: DataFrame,
    n_bins: int,
    *,
    salt_hot_hosts: list[str] | None = None,
    n_salt: int = 8,
) -> DataFrame:
    """Assign each row to a bin — the analog of one-FASTA-file-per-bin
    (/root/reference/include/index_base.h:26). The key is host(url), so
    a host's pages land in one bin (TetRex's 'which bin may match' unit of
    retrieval becomes 'which host bucket may match').

    JVM-side xxhash64 + pmod: deterministic across runs and parallelism.

    `salt_hot_hosts` is the explicit salted-repartitioning hook for skewed
    hosts (north-rule clause): each listed host's key is suffixed with a
    deterministic per-url salt in [0, n_salt), spreading that host over up
    to n_salt bins. The sketch BUILD doesn't need it (partials are per
    task), but the candidate-bin VERIFY scan does — an unsalted hot host
    concentrates one bin's scan into however many splits hold it, while a
    salted one both shrinks the scanned bin and lets queries prune the
    host's salt-shards independently. Queries stay correct with no code
    changes: salted shards are ordinary bins, each covered by its own
    Bloom rows, and the global merge of all bins is byte-identical to the
    unsalted build (merge associativity — property-tested). Feed the list
    from `hot_hosts(...)` or lineage.skew_report metrics."""
    key = host_of_url(F.col("url"))
    if salt_hot_hosts:
        hot = F.array(*[F.lit(h) for h in salt_hot_hosts])
        key = F.when(
            F.array_contains(hot, key),
            F.concat(
                key,
                F.lit("#"),
                F.pmod(F.xxhash64(F.col("url")), F.lit(n_salt)).cast("string"),
            ),
        ).otherwise(key)
    return df.withColumn("bin_id", F.pmod(F.xxhash64(key), F.lit(n_bins)).cast("int"))


def hot_hosts(df: DataFrame, n_bins: int, factor: float = 4.0) -> list[str]:
    """Hosts whose page count exceeds `factor` x the mean bin load — the
    data-driven input to with_bin_id(salt_hot_hosts=...). One JVM-only
    aggregate scan; at 100 TB run it on a sample or reuse the lineage
    skew metrics instead."""
    total = df.count()
    if total == 0:
        return []
    bar = factor * total / n_bins
    rows = (
        df.select(host_of_url(F.col("url")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > bar)
        .collect()
    )
    return sorted(r["host"] for r in rows)
