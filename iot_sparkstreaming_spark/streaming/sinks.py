"""Keyed-state sinks reproducing the Cassandra PK-upsert semantics
the reference leaned on implicitly (SURVEY.md §2.6).

Cassandra gave the reference three behaviors for free, all of which
become explicit ``foreachBatch`` logic here:

* **keyed replace** (``user_details``, ``sales``): newest full row
  per PK wins (K1/K4, workingTest.scala:74-75, 93-97);
* **last-value-per-key** (``latest_location``): K2 — but the
  reference's version was *arrival-order* last-write-wins, wrong
  under replay/out-of-order; ours orders by event columns so state is
  a pure function of the data (the documented fix, SURVEY.md §2.8);
* **PK dedup** (``userhistory``): duplicate keys collapse (K3).

State lives as parquet keyed tables. At test scale we rewrite the
state table per batch (read → merge → overwrite), which is the plain-
parquet equivalent of a MERGE; the upsert itself is idempotent per
key, so batch replays converge — the same property that made the
reference's Cassandra writes replay-safe (SURVEY.md §4). At 100 TB
you'd swap the rewrite for a Delta/Iceberg MERGE INTO keyed on the
same columns and partition state by key-hash; the foreachBatch
contract is unchanged.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class _ParquetTable:
    """A keyed parquet table under ``state_dir``. Its schema is read
    from the files once per sink object (or taken from the first rows
    written), not inferred by a Spark job on every batch."""

    def __init__(self, state_dir: str, keys: list[str]):
        self.state_dir = state_dir
        self.keys = keys
        self._schema: T.StructType | None = None

    def _stored(self, rows: DataFrame) -> DataFrame | None:
        """The stored table, None before the first write. Raises if
        its schema differs from the schema of ``rows``."""
        if not (
            os.path.isdir(self.state_dir)
            and any(f.endswith(".parquet") for f in os.listdir(self.state_dir))
        ):
            return None
        read = rows.sparkSession.read
        if self._schema is None:
            self._schema = read.parquet(self.state_dir).schema
        if _columns(self._schema) != _columns(rows.schema):
            raise ValueError(
                f"{self.state_dir} holds {self._schema.simpleString()}, "
                f"the batch has {rows.schema.simpleString()}"
            )
        return read.schema(self._schema).parquet(self.state_dir)

    def _wrote(self, rows: DataFrame) -> None:
        if self._schema is None:
            self._schema = rows.schema

    def read_state(self, spark) -> DataFrame:
        return spark.read.parquet(self.state_dir)


def _columns(schema: T.StructType) -> dict[str, str]:
    """Column name → type, nullability aside: parquet reads every
    column back as nullable."""
    return {f.name: f.dataType.simpleString() for f in schema}


def _expand(rows: DataFrame, keys: list[str], agg: Column) -> DataFrame:
    """One row per key: ``agg`` over a struct of the other columns,
    expanded back into the columns of ``rows``, in their order."""
    return (
        rows.groupBy(*keys)
        .agg(agg.alias("__w"))
        .select(*[c if c in keys else F.col("__w").getField(c).alias(c) for c in rows.columns])
    )


class KeyedUpsertSink(_ParquetTable):
    """``foreachBatch`` upsert: keep, per key, the row with the
    greatest ``order_by`` tuple (event-time first, then a unique
    tie-break) across all batches seen so far. Rows that tie on
    ``order_by`` are ordered by their remaining columns, so the winner
    never depends on arrival order.

    Deterministic and replay-idempotent: state is the argmax over
    data seen, regardless of batch boundaries or arrival order.
    """

    def __init__(self, state_dir: str, keys: list[str], order_by: list[str]):
        super().__init__(state_dir, keys)
        self.order_by = order_by

    def _merge(self, new_rows: DataFrame) -> DataFrame:
        old = self._stored(new_rows)
        merged = new_rows if old is None else old.unionByName(new_rows)
        rest = [c for c in merged.columns if c not in self.keys and c not in self.order_by]
        # one aggregate instead of a row_number window: max over the
        # struct compares order_by first, then the remaining columns
        return _expand(merged, self.keys, F.max(F.struct(*self.order_by, *rest)))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # Write-new-then-rename-swap through two sibling dirs named
        # after this sink's state dir: ``.new`` holds the merged table,
        # the current state is renamed to ``.old``, and ``.new`` takes
        # its place.
        # Between those two renames no state dir exists, so a crash
        # there is undone before the next merge reads the table:
        # ``.old`` is renamed back, and the replayed batch merges into
        # it. A ``.new`` left by a crash is overwritten by the next write.
        new, old = self.state_dir + ".new", self.state_dir + ".old"
        if os.path.isdir(old):
            if os.path.isdir(self.state_dir):  # crash after the swap
                shutil.rmtree(old)
            else:  # crash between the two renames
                os.rename(old, self.state_dir)
        merged = self._merge(batch_df)
        merged.write.mode("overwrite").parquet(new)
        if os.path.isdir(self.state_dir):
            os.rename(self.state_dir, old)
        os.replace(new, self.state_dir)
        if os.path.isdir(old):
            shutil.rmtree(old)
        self._wrote(merged)


class AppendDedupSink(_ParquetTable):
    """``foreachBatch`` append with PK dedup (K3 ``userhistory``):
    identical-key rows collapse to one, both within a batch and
    against previously appended state — the parquet twin of
    Cassandra's idempotent keyed INSERT. Of the rows sharing a key
    within one batch, the one whose other columns are least is kept,
    whatever their order."""

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        rest = [c for c in batch_df.columns if c not in self.keys]
        fresh = _expand(batch_df, self.keys, F.min(F.struct(*rest)))
        seen = self._stored(batch_df)
        if seen is not None:
            fresh = fresh.join(seen.select(*self.keys), self.keys, "left_anti")
        fresh.write.mode("append").parquet(self.state_dir)
        self._wrote(fresh)
