"""The partitioned URL-seen filter dataflow shared by operators/bloom.py and
operators/cuckoo.py (north rule).

Layout: P partitions keyed by pmod(url_hash, P); each partition owns one
blob row (partition_id + the filter's blob columns). Update and probe are
`cogroup(...).applyInPandas` stages — each task sees exactly one blob and
that partition's keys. Nothing is ever broadcast or collected: at 10^10
keys the filter is ~20 GB spread over P partitions, each task touching only
its slice.

A filter class supplies only its per-partition numpy kernel and its blob
columns:

- ``BLOB_SCHEMA``: DDL of the blob row, ``partition_id int`` first;
- ``_fresh()``: one empty blob's columns, from the constructor geometry;
- ``_insert(blob, hashes)`` (and ``_delete`` for a deletable filter): the
  updated blob columns; ``_lookup(blob, hashes)``: a maybe-seen bool array.

The filter does no I/O: the blob table is one more piece of a batch's
small state, written by engine/state.commit_batch and read back from the
committed batch dir (``load_snapshot`` on resume). The kernels read the
geometry from the blob row and ``restore`` takes the partition count from
the stored blob table, so a state stored under one geometry probes and
updates correctly whatever the restoring state was constructed with;
constructor arguments shape only the blobs ``rebuild`` creates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class PartitionedFilter:
    NAME = ""          # the seen_filter kind; names its blob table's dir
    BLOB_SCHEMA = ""

    def __init__(self, partitions: int):
        self.p = partitions              # restore() takes the stored count
        self.blobs: DataFrame | None = None

    def restore(self, blobs: DataFrame) -> None:
        """Take over a stored blob table, with its partition count."""
        self.blobs = blobs
        self.p = blobs.count()           # one blob row per partition

    def _keyed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "partition_id", F.pmod(F.col("url_hash"), F.lit(self.p)).cast("int"))

    def rebuild(self, hashes: DataFrame) -> None:
        """hashes: one column url_hash (long) → a fresh filter holding them."""
        self.blobs = hashes.sparkSession.createDataFrame(
            [{"partition_id": i, **self._fresh()} for i in range(self.p)],
            schema=self.BLOB_SCHEMA)
        self.add(hashes)

    def add(self, hashes: DataFrame) -> None:
        self._update(hashes, self._insert)

    def _update(self, hashes: DataFrame, kernel) -> None:
        """Apply ``kernel`` to each blob with its partition's keys."""
        cols = self.blobs.columns

        def merge(blob_pdf: pd.DataFrame, keys_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(blob_pdf) == 0:
                return pd.DataFrame(columns=cols)
            blob = blob_pdf.iloc[0].to_dict()
            h = keys_pdf["url_hash"].to_numpy(dtype=np.int64)
            return pd.DataFrame([kernel(blob, h) if len(h) else blob])

        self.blobs = (
            self.blobs.groupBy("partition_id")
            .cogroup(self._keyed(hashes.select("url_hash")).groupBy("partition_id"))
            .applyInPandas(merge, schema=self.BLOB_SCHEMA)
        )

    def split(self, rows: DataFrame) -> tuple[DataFrame, DataFrame]:
        """rows must carry url_hash → (maybe_seen, definitely_new), same schema."""
        lookup = self._lookup
        cols = rows.columns
        keyed = self._keyed(rows)
        # NB: do NOT StructType.add() on keyed.schema — it mutates the
        # DataFrame's cached schema object and corrupts later analysis.
        schema_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                               for f in keyed.schema.fields) + ", `maybe_seen` boolean"

        def probe(rows_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(rows_pdf) == 0:
                return rows_pdf.assign(maybe_seen=pd.Series(dtype=bool))
            if len(blob_pdf) == 0:
                return rows_pdf.assign(maybe_seen=False)
            blob = blob_pdf.iloc[0].to_dict()
            return rows_pdf.assign(maybe_seen=lookup(
                blob, rows_pdf["url_hash"].to_numpy(dtype=np.int64)))

        probed = (
            keyed.groupBy("partition_id")
            .cogroup(self.blobs.groupBy("partition_id"))
            .applyInPandas(probe, schema=schema_ddl)
        )
        return (probed.where(F.col("maybe_seen")).select(*cols),
                probed.where(~F.col("maybe_seen")).select(*cols))
