"""Incremental (streaming) MinHash+LSH near-dup detection.

Extends the batch pipeline (operators.llm_dedup.minhash_lsh_dedup,
SURVEY X4) into the shape a continuously-ingesting corpus needs: each
micro-batch of new documents is shingled, signed and banded exactly
like the batch path, then joined against a PERSISTED signature store
holding every previously-seen document's band hashes — so a new doc
is checked against the whole corpus-so-far without ever rescanning
it. The store is three tables:

- ``bands``:    (doc_id, band_idx, band_hash) — the LSH index
- ``shingles``: (doc_id, shingles)            — for exact verification
- ``pairs``:    (doc_a, doc_b, inter, jaccard) — verified output

Per batch the work is: sign the batch (per-row, no shuffle), one
equi-join of the batch's bands against the store's on
(band_idx, band_hash), plus exact-Jaccard verification of the (tiny)
candidate set.

Two store layouts:

- :class:`ParquetStore` — plain epoch-partitioned parquet dirs (the
  simple dev/test layout; a replayed batch overwrites its own epoch
  and probes only earlier ones; the probe join shuffles the store
  side when the batch side is too big to broadcast).
- :class:`BucketedStore` — the 100 TB layout (scale.write_bucketed
  composed in, VERDICT r3 task 2): the band store is BUCKETED by
  band_hash and the shingle store by doc_id, so the per-batch probe
  join and the verification joins are exchange-free on the store
  side — the multi-TB corpus state is shuffled exactly once, at
  append time, never per batch. ``tests/test_streaming.py`` asserts
  both batch-equals-streaming and the exchange-free store-side plan.

Batch-equals-streaming: a pair is discovered in the batch where its
LATER member arrives (within-batch pairs come from the batch's self
join), and pairs are canonicalized doc_a < doc_b, so the union of
emitted pairs after any batch split equals the single-batch
``minhash_lsh_dedup`` output on the full corpus. The equality is
asserted by tests/test_streaming.py.

Deployment: wire :func:`process_batch` into
``runner.run_foreach_batch`` (the same micro-batch shell every other
foreachBatch pipeline here uses); a Kafka source swaps in upstream of
it unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.operators import llm_dedup
from gmall_spark.streaming.runner import idempotent_parquet_write
from gmall_spark.streaming.store import read_epochs

_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("band_hash", T.StringType()),
    ]
)
_SHINGLES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("shingles", T.ArrayType(T.StringType())),
    ]
)


class ParquetStore:
    """Epoch-partitioned parquet signature store (dev/test layout);
    ``before`` keeps the epochs before a batch id."""

    def __init__(self, store_dir: str):
        self.store_dir = store_dir

    def bands(self, spark: SparkSession, before: int | None = None) -> DataFrame:
        return read_epochs(spark, f"{self.store_dir}/bands", _BANDS_SCHEMA, before)

    def shingles(self, spark: SparkSession, before: int | None = None) -> DataFrame:
        return read_epochs(
            spark, f"{self.store_dir}/shingles", _SHINGLES_SCHEMA, before
        )

    def pairs(self, spark: SparkSession) -> DataFrame:
        return read_epochs(spark, f"{self.store_dir}/pairs")

    def append(
        self, pairs: DataFrame, bands: DataFrame, shingles: DataFrame, batch_id: int
    ) -> None:
        for sub, df in (("pairs", pairs), ("bands", bands), ("shingles", shingles)):
            idempotent_parquet_write(f"{self.store_dir}/{sub}")(df, batch_id)


class BucketedStore:
    """Bucketed catalog-table signature store — the 100 TB layout.

    The band index is bucketed by ``(band_idx, band_hash)`` — the
    FULL probe-join key: Spark only treats a join's children as
    co-partitioned when the partitioning covers every join key
    (``spark.sql.requireAllClusterKeysForCoPartition``, default on),
    so bucketing by band_hash alone would be "disabled by query
    planner". The shingle store is bucketed by ``doc_id``
    (operators.scale bucketing, X16). With that, the STORE side of
    every per-batch join is exchange-free — only the (tiny) batch
    side shuffles. Append cost is one clustered write per batch; the
    bucket count should target ~128-512 MB per bucket file at scale
    (it must stay fixed for the table's lifetime). The catalog append
    ignores the batch id, so a replayed batch is appended twice.
    """

    def __init__(self, table_prefix: str, n_buckets: int = 8):
        self.prefix = table_prefix
        self.n_buckets = n_buckets

    def _table_or_empty(
        self, spark: SparkSession, table: str, schema: T.StructType
    ) -> DataFrame:
        if spark.catalog.tableExists(table):
            return spark.table(table)
        return spark.createDataFrame([], schema)

    def bands(self, spark: SparkSession, before: int | None = None) -> DataFrame:
        return self._table_or_empty(spark, f"{self.prefix}_bands", _BANDS_SCHEMA)

    def shingles(self, spark: SparkSession, before: int | None = None) -> DataFrame:
        return self._table_or_empty(
            spark, f"{self.prefix}_shingles", _SHINGLES_SCHEMA
        )

    def pairs(self, spark: SparkSession) -> DataFrame:
        return spark.table(f"{self.prefix}_pairs")

    def append(
        self, pairs: DataFrame, bands: DataFrame, shingles: DataFrame, batch_id: int
    ) -> None:
        pairs.write.mode("append").format("parquet").saveAsTable(
            f"{self.prefix}_pairs"
        )
        bands.write.mode("append").format("parquet").bucketBy(
            self.n_buckets, "band_idx", "band_hash"
        ).saveAsTable(f"{self.prefix}_bands")
        shingles.write.mode("append").format("parquet").bucketBy(
            self.n_buckets, "doc_id"
        ).saveAsTable(f"{self.prefix}_shingles")

    def drop(self, spark: SparkSession) -> None:
        for t in ("pairs", "bands", "shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {self.prefix}_{t}")


def probe_candidates(batch_bands: DataFrame, seen_bands: DataFrame) -> DataFrame:
    """Candidate pairs from one (batch bands) x (seen bands) equi-join
    on (band_idx, band_hash), canonicalized doc_a < doc_b. Against a
    :class:`BucketedStore` band table the seen side is exchange-free
    (bucketed by band_hash); the batch side broadcasts or shuffles —
    it is the small side by construction."""
    return (
        batch_bands.join(
            seen_bands.select(
                F.col("doc_id").alias("doc_o"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("doc_id") != F.col("doc_o"))
        .select(
            F.least("doc_id", "doc_o").alias("doc_a"),
            F.greatest("doc_id", "doc_o").alias("doc_b"),
        )
    )


def process_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    store: str | ParquetStore | BucketedStore,
    batch_id: int,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = llm_dedup.NGRAM_N,
    k: int = llm_dedup.MINHASH_K,
    bands: int = llm_dedup.LSH_BANDS,
) -> DataFrame:
    """Dedup one micro-batch against the signature store (the batches
    before ``batch_id``); store the verified new pairs and the batch's
    signatures/shingles under ``batch_id``; return the new pairs
    (same schema as the batch operator: doc_a, doc_b, inter,
    jaccard). ``store`` is a store object (or a directory path,
    shorthand for ``ParquetStore``)."""
    if isinstance(store, str):
        store = ParquetStore(store)
    with_arr = batch_docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        llm_dedup.shingle_array(text_col, n).alias("shingles"),
    ).persist()
    sh = with_arr.select("doc_id", F.explode("shingles").alias("shingle"))
    new_bands = llm_dedup.band_signatures(
        llm_dedup.minhash_signatures(sh, k), bands, k
    ).persist()

    old_bands = store.bands(spark, before=batch_id)
    # candidates: each NEW doc against everything seen so far
    # (including this batch — within-batch pairs), canonical a < b.
    # The store probe is a SEPARATE join from the within-batch self
    # join (not a join against union(old, new)): a union would erase
    # the store scan's bucketed output partitioning and force the
    # multi-TB store side through an exchange every batch.
    cand = (
        probe_candidates(new_bands, new_bands)
        .unionByName(probe_candidates(new_bands, old_bands))
        .distinct()
    )
    # No re-emission across batches: every candidate has at least one
    # member from THIS batch (never seen before), so a pair can only
    # be generated in the batch where its later member arrives; the
    # distinct above collapses multi-band collisions within it.
    old_shingles = store.shingles(spark, before=batch_id)
    all_arr = old_shingles.unionByName(with_arr)
    pairs = llm_dedup.jaccard_for_arrays(cand, all_arr, threshold)

    store.append(pairs, new_bands, with_arr, batch_id)
    with_arr.unpersist()
    new_bands.unpersist()
    return pairs


def emitted_pairs(
    spark: SparkSession, store: str | ParquetStore | BucketedStore
) -> DataFrame:
    """All pairs emitted so far (union over processed batches)."""
    if isinstance(store, str):
        store = ParquetStore(store)
    return store.pairs(spark)
