"""RecordStore — CRUD parity with the reference's record service
(/root/reference/node/service/records.go + node/storage/index.go), built
on a Parquet-backed canonical ``records`` DataFrame.

Data model (SURVEY §1.3): one table with schema
    id BIGINT, data ARRAY<FLOAT>, shape ARRAY<BIGINT>, meta MAP<STRING,STRING>

Semantics preserved from the reference:
- sequential id allocation: next id = max(id)+1, computed at open and
  advanced per create (nextID, node/storage/index.go:39-43, 154-172);
- default shape = [len(data)] when absent (node/storage/records.go:126-129);
- create-with-id fails on collision; bulk create rolls back on partial
  failure (node/storage/index.go:174-218);
- find-by-meta is exact key=value equality (node/storage/records.go:103-123)
  — served here by a pushed-down predicate instead of an inverted index;
- list is ordered by id with page/per_page + total (node/service/records.go:66-114).

Storage engine: Hive-partitioned Parquet, ``b=<id % NUM_BUCKETS>/``,
MERGE-ON-READ (VERDICT r6 #2 — the deletion-as-negation pattern proven
on the PQ/IVF and inverted indexes, operators/similarity.py:803 and
operators/search.py:444, applied to the base table). Every row carries
a weight ``w``: creates append w=+1; ``delete`` appends the stored row
again with w=-1 (bit-identical — floats/longs/strings round-trip the
point read exactly, so the negation cancels in the netting group);
``update`` appends the old row with w=-1 plus the new row with w=+1.
Mutations are therefore O(rows touched) APPENDS, and the rows are
already on the driver, so ``_append`` writes them with Arrow — one
parquet file per touched bucket, staged under a dot-name Spark's
listing skips and renamed into view — and runs no Spark job. A changed
row nets to exactly its new version. The live view (``_live``) nets w
per full row content and keeps positive sums; point reads still prune
to the id's bucket directory because the partition column is a
grouping key (the filter pushes below the aggregate — the pq_index_rows
plan shape). A ``_tombstones`` marker file, written by the first
mutation and removed by ``compact``, lets a never-mutated table skip
the netting aggregate entirely (ADVICE r6 #4). ``compact()`` folds the
buckets that hold more than one file back into one file each, in one
Spark job, and swaps them in dir for dir. The reference instead
rewrites one protobuf file per record under a global lock
(node/storage/saver.go:12-20) — per-record files at 100 TB are the
small-files pathology; append-only partials + periodic compaction bound
file count AND rewrite amplification. A transactional table format
(Delta/Iceberg, gated by sources.formats.delta_available) would add
MERGE/ACID on top of the same layout.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

RECORD_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("data", ArrayType(FloatType()), True),
        StructField("shape", ArrayType(LongType()), True),
        StructField("meta", MapType(StringType(), StringType()), True),
    ]
)

# Write-side schema: the merge-on-read weight rides every row (+1 live
# partial, -1 tombstone partial).
_WRITE_SCHEMA = StructType([*RECORD_SCHEMA.fields, StructField("w", IntegerType(), True)])

# Read-side schema: the bucket is a Hive partition column. Files written
# before the merge-on-read layout (or adopted flat files) lack ``w`` and
# read as null -> coalesced to +1.
_READ_SCHEMA = StructType([*_WRITE_SCHEMA.fields, StructField("b", IntegerType(), True)])

# _WRITE_SCHEMA as Arrow, for the driver-side appends.
_ARROW_SCHEMA = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("data", pa.list_(pa.float32())),
        pa.field("shape", pa.list_(pa.int64())),
        pa.field("meta", pa.map_(pa.string(), pa.string())),
        pa.field("w", pa.int32()),
    ]
)

NUM_BUCKETS = 16


class RecordNotFound(KeyError):
    """Read/update/delete of an absent id (≡ 'record not found' RPC error)."""


class IdCollision(ValueError):
    """CreateWithId on an existing id (node/storage/index.go:183-186)."""


class RecordStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_buckets: int = NUM_BUCKETS,
        auto_compact_after: int | None = None,
    ):
        """``auto_compact_after`` (VERDICT r7 #8): when set, any write —
        create, update, or delete — that leaves more than
        ``num_buckets + auto_compact_after`` parquet files on disk
        triggers :meth:`compact` inline — the threshold that keeps a
        long-lived store's reads from degrading unboundedly (every
        write appends at least one partial file; an insert-heavy store
        hits the small-files pathology without any tombstone ever
        existing, so creates count too). Compaction folds back to one
        file per bucket and clears the netting marker. The trigger
        measures the ON-DISK file count, not an in-process counter, so
        it survives reopen. None (default) keeps compaction manual —
        the store is single-writer by contract either way, so the
        inline fold is safe whenever a write is."""
        self.spark = spark
        self.path = path
        self.num_buckets = int(num_buckets)
        self.auto_compact_after = (
            int(auto_compact_after) if auto_compact_after is not None else None
        )
        os.makedirs(path, exist_ok=True)
        self._adopt_flat_files()
        self._next_id = int(self._df_or_empty().agg(F.max("id")).first()[0] or 0) + 1

    # -- internals ----------------------------------------------------------

    def _adopt_flat_files(self) -> None:
        """One-time adoption of an unbucketed parquet directory (e.g. a
        table written by a plain ``df.write.parquet``): move top-level
        files into the ``b=`` layout so bucket pruning and O(delta)
        mutations hold. The analog of the reference's startup directory
        scan (node/storage/loader.go:20-46) — it pays the read once, at
        open, not per mutation."""
        flat = [
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet") and os.path.isfile(os.path.join(self.path, f))
        ]
        if not flat:
            return
        df = self.spark.read.schema(RECORD_SCHEMA).parquet(*flat)
        df.withColumn("b", (F.col("id") % self.num_buckets).cast("int")).write.mode(
            "append"
        ).partitionBy("b").parquet(self.path)
        for f in flat:
            os.remove(f)

    def _bucket(self, rid: int) -> int:
        return int(rid) % self.num_buckets

    def _bucket_dir(self, bucket: int) -> str:
        return os.path.join(self.path, f"b={bucket}")

    def _df_or_empty(self) -> DataFrame:
        try:
            return self.spark.read.schema(_READ_SCHEMA).parquet(self.path)
        except Exception:
            return self.spark.createDataFrame([], _READ_SCHEMA)

    def _append(self, rows: list[tuple[Row, int]]) -> None:
        """Persist ``(row, w)`` pairs the driver already holds, without a
        Spark job: one Arrow-written parquet file per touched bucket,
        written as ``.part-<uuid>.parquet`` and renamed to
        ``part-<uuid>.parquet``. Spark's file listing skips names that
        start with '.', so a bucket's share of the batch becomes visible
        whole or not at all — an update's -1/+1 pair shares its id's
        bucket and therefore one file."""
        by_bucket: dict[int, list[tuple[Row, int]]] = {}
        for r, w in rows:
            by_bucket.setdefault(self._bucket(r["id"]), []).append((r, w))
        for bucket, part in by_bucket.items():
            cols = {f: [r[f] for r, _ in part] for f in RECORD_SCHEMA.fieldNames()}
            cols["w"] = [w for _, w in part]
            d = self._bucket_dir(bucket)
            os.makedirs(d, exist_ok=True)
            name = f"part-{uuid.uuid4().hex}.parquet"
            staged = os.path.join(d, "." + name)
            # No dictionary encoding: on float vectors it only grows the
            # file (+47% on random data), and every later scan reads it.
            pq.write_table(pa.table(cols, schema=_ARROW_SCHEMA), staged, use_dictionary=False)
            os.rename(staged, os.path.join(d, name))

    # -- merge-on-read netting ------------------------------------------------

    @property
    def _marker(self) -> str:
        return os.path.join(self.path, "_tombstones")

    def _mark_tombstones(self) -> None:
        with open(self._marker, "w") as fh:
            fh.write("1")

    def _live(self) -> DataFrame:
        """The netted live view: sum(w) per full row content, positive
        sums survive. ``meta`` is a MapType (not groupable), so it rides
        the aggregate as its canonical sorted entry array and reassembles
        after. Every content column plus the partition column is a
        grouping key, so bucket/id predicates push below the aggregate to
        the scan (the pq_index_rows plan shape — plan-tested). A table
        with no tombstone marker skips the aggregate: creates append
        unique live rows, so netting would be the identity."""
        raw = self._df_or_empty()
        if not os.path.isfile(self._marker):
            return raw.drop("w")
        keyed = raw.select(
            "id",
            "data",
            "shape",
            # null meta -> null entries -> null map back out; {} round-trips
            F.array_sort(F.map_entries("meta")).alias("__me"),
            "b",
            F.coalesce(F.col("w"), F.lit(1)).alias("w"),
        )
        return (
            keyed.groupBy("id", "data", "shape", "__me", "b")
            .agg(F.sum("w").alias("__w"))
            .where(F.col("__w") > 0)
            .select(
                "id",
                "data",
                "shape",
                F.map_from_entries(F.col("__me")).alias("meta"),
                "b",
            )
        )

    @staticmethod
    def _normalize(data, shape, meta) -> tuple[list, list, dict]:
        data = [float(x) for x in (data or [])]
        shape = [int(s) for s in shape] if shape else [len(data)]
        return data, shape, dict(meta or {})

    # -- API ----------------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The canonical records DataFrame (the 'records' an oracle sees):
        the netted live view, partials and weights invisible."""
        return self._live().drop("b")

    def create(self, data, meta=None, shape=None) -> int:
        """Assign the next sequential id and persist (records.go:26-31)."""
        rid = self._next_id
        self._next_id += 1
        d, s, m = self._normalize(data, shape, meta)
        self._append([(Row(id=rid, data=d, shape=s, meta=m), 1)])
        self._maybe_auto_compact()
        return rid

    def create_with_id(self, rid: int, data, meta=None, shape=None) -> None:
        if self._exists(rid):
            raise IdCollision(f"record {rid} exists")
        d, s, m = self._normalize(data, shape, meta)
        self._append([(Row(id=int(rid), data=d, shape=s, meta=m), 1)])
        self._next_id = max(self._next_id, int(rid) + 1)
        self._maybe_auto_compact()

    def create_many_with_id(self, records: dict[int, list]) -> None:
        """Bulk create; all-or-nothing like CreateRecordsWithId
        (node/storage/index.go:188-218): collisions are checked for the
        whole batch before any write. The write is one driver-side file
        per touched bucket — creates batch naturally instead of one file
        per record."""
        ids = [int(i) for i in records]
        hits = (
            self._live()
            .where(F.col("id").isin(ids))
            .select("id")
            .limit(1)
            .collect()
        )
        if hits:
            raise IdCollision(f"record {hits[0]['id']} exists")
        rows = []
        for rid, data in records.items():
            d, s, m = self._normalize(data, None, None)
            rows.append((Row(id=int(rid), data=d, shape=s, meta=m), 1))
        self._append(rows)
        self._next_id = max(self._next_id, max(ids) + 1)
        self._maybe_auto_compact()

    def _exists(self, rid: int) -> bool:
        return (
            self._live()
            .where((F.col("b") == self._bucket(rid)) & (F.col("id") == rid))
            .limit(1)
            .count()
            > 0
        )

    def read(self, rid: int) -> Row:
        """Point lookup against the live view, pruned to the id's bucket
        directory (bucket and id are grouping keys of the netting
        aggregate, so the filter reaches the scan)."""
        rows = (
            self._live()
            .where((F.col("b") == self._bucket(rid)) & (F.col("id") == rid))
            .drop("b")
            .collect()
        )
        if not rows:
            raise RecordNotFound(rid)
        return rows[0]

    def update(self, rid: int, data=None, meta=None, shape=None) -> None:
        """Overwrite data/meta/shape by id (record_driver.go:32-45).
        O(delta) APPEND: the old version goes back in with w=-1 (netting
        cancels it), the new version with w=+1 — no bucket rewrite, no
        other row touched."""
        old = self.read(rid)
        d, s, m = self._normalize(
            data if data is not None else old["data"],
            shape if shape is not None else old["shape"],
            meta if meta is not None else old["meta"],
        )
        # marker FIRST (a crash after the -1 row but before the marker
        # would let the pass-through path serve the tombstone as live),
        # then BOTH partials in ONE append: update() keys by id, so the
        # -1/+1 pair lands in one bucket and one atomically renamed file —
        # a crash leaves either the old version or the new one, never the
        # negation alone (a silent delete where the caller asked for an
        # update).
        self._mark_tombstones()
        self._append([(old, -1), (Row(id=int(rid), data=d, shape=s, meta=m), 1)])
        self._maybe_auto_compact()

    def delete(self, rid: int) -> None:
        """Deletion as negation: append the stored row again with w=-1
        (read() both enforces the not-found contract, records.go:117-121,
        and fetches the exact live version to negate). The values
        round-trip exactly — float32 -> Python float -> float32 is
        lossless, longs and strings trivially — so the w=-1 copy lands in
        the same netting group as the stored +1 row and cancels it."""
        old = self.read(rid)
        self._mark_tombstones()  # marker first — see update()
        self._append([(old, -1)])
        self._maybe_auto_compact()

    def delete_many(self, rids: list[int]) -> None:
        """Bulk deletion-as-negation, fully distributed: the live rows
        matching ``rids`` re-append with w=-1 straight from the netted
        view — one write job, nothing collected to the driver (absent
        ids simply match nothing, preserving the old filter semantics)."""
        ids = [int(r) for r in rids]
        buckets = sorted({self._bucket(r) for r in ids})
        self._mark_tombstones()  # marker first — see update()
        (
            self._live()
            .where(F.col("b").isin(buckets) & F.col("id").isin(ids))
            .drop("b")
            .withColumn("w", F.lit(-1))
            .withColumn("b", (F.col("id") % self.num_buckets).cast("int"))
            .write.mode("append")
            .partitionBy("b")
            .parquet(self.path)
        )
        self._maybe_auto_compact()

    def _bucket_files(self) -> dict[int, list[str]]:
        """Each bucket's VISIBLE parquet files. Spark's listing skips
        names starting with '.' or '_' (staged appends, compaction
        scratch), so they are skipped here too."""
        out = {}
        for entry in os.listdir(self.path):
            if entry.startswith("b=") and entry[2:].isdigit():
                d = os.path.join(self.path, entry)
                out[int(entry[2:])] = [
                    f for f in os.listdir(d) if f.endswith(".parquet") and f[0] not in "._"
                ]
        return out

    def _parquet_file_count(self) -> int:
        return sum(len(fs) for fs in self._bucket_files().values())

    def _maybe_auto_compact(self) -> None:
        """Fire :meth:`compact` when accumulated partial files exceed
        the configured threshold (see __init__). Reads are identical
        before and after by compaction's construction; what changes is
        file count (one per bucket) and the netting marker (cleared)."""
        if self.auto_compact_after is None:
            return
        if self._parquet_file_count() > self.num_buckets + self.auto_compact_after:
            self.compact()

    def compact(self) -> None:
        """Fold every DIRTY bucket — one holding more than one visible
        parquet file — into one netted file, in one Spark job for all of
        them, and clear the netting marker (reads return to the
        pass-through path). A bucket with one file needs no fold: every
        w=-1 row is written into a bucket that already holds its +1 row
        (update/delete negate the row read() found in the id's bucket),
        so a lone file holds no negation to cancel. Clean buckets keep
        their files untouched. The fold is written to a hidden
        ``.compact-<uuid>`` dir; each dirty bucket dir is then swapped
        for its folded one (removed if nothing in it survived the
        netting), and the marker comes off last."""
        dirty = sorted(b for b, fs in self._bucket_files().items() if len(fs) > 1)
        if dirty:
            stage = os.path.join(self.path, f".compact-{uuid.uuid4().hex}")
            (
                self._live()
                .where(F.col("b").isin(dirty))
                .repartition(len(dirty), "b")
                .write.partitionBy("b")
                .parquet(stage)
            )
            for b in dirty:
                target, folded = self._bucket_dir(b), os.path.join(stage, f"b={b}")
                os.rename(target, os.path.join(stage, f"old-{b}"))
                if os.path.isdir(folded):
                    os.rename(folded, target)
            shutil.rmtree(stage)
        if os.path.isfile(self._marker):
            os.remove(self._marker)

    def list(self, page: int = 1, per_page: int = 10) -> tuple[int, list[Row]]:
        """Ordered pagination returning (total, rows)
        (node/service/records.go:66-114; sort by id at 96-99)."""
        df = self.df
        total = df.count()
        rows = (
            df.orderBy("id").offset(max(0, (page - 1) * per_page)).limit(per_page).collect()
        )
        return total, rows

    def list_after(self, last_id: int | None = None, per_page: int = 10) -> list[Row]:
        """Keyset pagination (VERDICT r8 #6): the page strictly after
        ``last_id`` in id order (None starts at the beginning). Page
        through with ``rows[-1]["id"]`` as the next ``last_id``; an empty
        list ends the walk. Equivalent row stream to :meth:`list`, but
        the ``id > last_id`` predicate pushes into the parquet scan, so
        every page costs O(page) instead of the offset form's O(offset)
        re-sort — the shape to use for a deep walk over a large store.
        (The offset form stays for reference parity:
        node/service/records.go:66-114 paginates by page number.)"""
        df = self.df
        if last_id is not None:
            df = df.where(F.col("id") > int(last_id))
        return df.orderBy("id").limit(per_page).collect()

    def find_by_meta_df(self, key: str, value: str) -> DataFrame:
        """Exact meta equality (records.go:103-123) as a lazy DataFrame —
        the scale-safe surface: nothing materializes on the driver. The
        reference keeps an inverted index; here the predicate pushes into
        the parquet scan (partition-prunable if the table is partitioned
        by hot meta keys)."""
        return self.df.where(F.col("meta")[key] == value)

    def find_by_meta(
        self, key: str, value: str, page: int = 1, per_page: int = 1000
    ) -> list[Row]:
        """Paginated materialization of :meth:`find_by_meta_df`. A hot meta
        value at 100 TB can match millions of rows; the collect is bounded
        to one page (default 1000) like :meth:`list` — never unbounded."""
        return (
            self.find_by_meta_df(key, value)
            .orderBy("id")
            .offset(max(0, (page - 1) * per_page))
            .limit(per_page)
            .collect()
        )

    def count(self) -> int:
        return self.df.count()
