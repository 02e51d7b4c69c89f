"""The one state layout of the streaming twins.

Every twin keeps its state under ``<store>/<sub>/epoch=<batch_id>``,
written by ``runner.idempotent_parquet_write`` and read back by
:func:`read_epochs`: a replayed foreachBatch epoch overwrites its own
partition and reads only earlier ones, so the replay is a no-op.
A batch writes only its own epoch, so a reader running during a write
sees every earlier epoch whole and may see a partial newest one; under
a monotone merge (``bit_or``, distinct k-min, sums of counts) that read
lies between the previous state and the new one. Time travel to epoch
``v`` is ``read_epochs(before=v + 1)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.session import local_rows


def read_epochs(
    spark: SparkSession, path: str, schema=None, before: int | None = None
) -> DataFrame:
    """A twin's state: the ``epoch=<batch_id>`` partitions under
    ``path``, read by partition discovery, with ``epoch`` dropped.
    ``before`` keeps only epochs < ``before``; a twin that reads its
    own state mid-batch passes its batch id, so a replay sees exactly
    what its first attempt saw. ONLY a missing path means 'first
    batch' (empty ``schema`` rows); any other read failure surfaces —
    treating a corrupt store as empty would silently drop state
    (ADVICE r3)."""
    from pyspark.errors import AnalysisException

    # the root path stays the same as epochs land: refresh any Dataset
    # cached from an earlier read (an operator may persist it), or
    # this identical plan would be served from that cache without the
    # new epochs
    spark.catalog.refreshByPath(path)
    reader = spark.read
    if schema is not None:
        # ``epoch`` in the schema keeps the column on an empty dir too
        reader = reader.schema(
            f"{schema}, epoch long"
            if isinstance(schema, str)
            else T.StructType([*schema.fields, T.StructField("epoch", T.LongType())])
        )
    try:
        df = reader.parquet(path)
    except AnalysisException as exc:
        missing = "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)
        if schema is None or not missing:
            raise
        return local_rows(spark, [], schema)
    if before is not None:
        df = df.filter(F.col("epoch") < before)
    return df.drop("epoch")
