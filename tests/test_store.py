"""RecordStore CRUD tests mirroring the reference's storage/service suites
(/root/reference/node/storage/index_test.go, node/service/records_test.go)."""

from __future__ import annotations

import pytest

from sum_spark.store import IdCollision, RecordNotFound, RecordStore


@pytest.fixture()
def store(spark, tmp_path):
    return RecordStore(spark, str(tmp_path / "records"))


def test_create_assigns_sequential_ids(store):
    assert store.create([1.0, 2.0]) == 1
    assert store.create([3.0]) == 2
    assert store.count() == 2


def test_default_shape_rule(store):
    rid = store.create([1.0, 2.0, 3.0])
    row = store.read(rid)
    # shape defaults to [len(data)] (node/storage/records.go:126-129)
    assert row["shape"] == [3]


def test_read_miss_raises(store):
    with pytest.raises(RecordNotFound):
        store.read(666)


def test_create_with_id_and_collision(store):
    store.create_with_id(666, [0.6, 0.6, 0.6], meta={"666": "666"})
    with pytest.raises(IdCollision):
        store.create_with_id(666, [1.0])
    # next sequential id continues after the explicit one
    assert store.create([1.0]) == 667


def test_bulk_create_all_or_nothing(store):
    store.create_with_id(2, [1.0])
    with pytest.raises(IdCollision):
        store.create_many_with_id({1: [1.0], 2: [2.0], 3: [3.0]})
    # nothing from the failed batch got written (index.go:188-218)
    assert store.count() == 1


def test_update_overwrites(store):
    rid = store.create([1.0, 2.0], meta={"a": "1"})
    store.update(rid, data=[9.0], meta={"b": "2"})
    row = store.read(rid)
    assert row["data"] == [9.0]
    assert row["meta"] == {"b": "2"}
    assert store.count() == 1


def test_delete(store):
    rid = store.create([1.0])
    store.delete(rid)
    assert store.count() == 0
    with pytest.raises(RecordNotFound):
        store.delete(rid)


def test_list_pagination(store):
    for i in range(25):
        store.create([float(i)])
    total, rows = store.list(page=2, per_page=10)
    assert total == 25
    assert [r["id"] for r in rows] == list(range(11, 21))


def test_find_by_meta(store):
    store.create([1.0], meta={"label": "malware"})
    store.create([2.0], meta={"label": "clean"})
    store.create([3.0], meta={"label": "malware"})
    hits = store.find_by_meta("label", "malware")
    assert [r["id"] for r in hits] == [1, 3]


def test_find_by_meta_bounded_and_lazy(store):
    """The meta path never does an unbounded collect (VERDICT r2 #5):
    the DataFrame surface stays lazy and the Row surface paginates."""
    from pyspark.sql import DataFrame

    for i in range(25):
        store.create([float(i)], meta={"label": "hot"})
    assert isinstance(store.find_by_meta_df("label", "hot"), DataFrame)
    page1 = store.find_by_meta("label", "hot", page=1, per_page=10)
    page2 = store.find_by_meta("label", "hot", page=2, per_page=10)
    assert len(page1) == 10 and len(page2) == 10
    assert [r["id"] for r in page1] + [r["id"] for r in page2] == list(range(1, 21))


def test_reopen_preserves_next_id(spark, tmp_path):
    path = str(tmp_path / "records")
    s1 = RecordStore(spark, path)
    s1.create([1.0])
    s1.create([2.0])
    s2 = RecordStore(spark, path)  # startup scan (loader.go:20-46)
    assert s2.create([3.0]) == 3


def test_mutations_are_pure_appends(spark, tmp_path):
    """Merge-on-read O(delta) contract (VERDICT r6 #2): update/delete
    never rewrite ANY existing file — every pre-existing parquet file
    stays byte-identical (same path, same mtime); the mutation only adds
    new partial files in the id's bucket (plus the tombstone marker)."""
    import os

    path = str(tmp_path / "records")
    store = RecordStore(spark, path)
    for i in range(18):
        store.create([float(i)])

    def parquet_files() -> dict[str, float]:
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getmtime(p)
        return out

    target = 7
    bucket = target % store.num_buckets
    before = parquet_files()
    store.update(target, data=[99.0])
    after = parquet_files()
    assert all(after[p] == t for p, t in before.items())  # appends only
    new = set(after) - set(before)
    assert new and all(f"b={bucket}" in p for p in new)  # only the id's bucket
    assert store.read(target)["data"] == [99.0]
    assert store.count() == 18

    before = parquet_files()
    store.delete(target)
    after = parquet_files()
    assert all(after[p] == t for p, t in before.items())
    assert all(f"b={bucket}" in p for p in set(after) - set(before))
    assert store.count() == 17


def test_merge_on_read_lifecycle(spark, tmp_path):
    """Deletion-as-negation end-to-end: retire-then-reappend the same id
    works (the negated partial cancels bit-for-bit); repeated updates net
    to the latest version; compact() folds the partials into one file per
    bucket, removes the tombstone marker (reads return to pass-through),
    and changes no result; point reads prune to the id's bucket even
    through the netting aggregate."""
    import glob
    import os

    path = str(tmp_path / "records")
    store = RecordStore(spark, path, num_buckets=2)
    a = store.create([1.0, 2.0], meta={"k": "v1"})
    b = store.create([3.0])
    store.update(a, meta={"k": "v2"})
    store.update(a, meta={"k": "v3"})
    assert store.read(a)["meta"] == {"k": "v3"}
    store.delete(a)
    with pytest.raises(RecordNotFound):
        store.read(a)
    # retire-then-reappend the same id (the IdCollision check consults
    # the netted view, so the retired id is free again)
    store.create_with_id(a, [1.0, 2.0], meta={"k": "v1"})
    assert store.read(a)["meta"] == {"k": "v1"}
    assert store.count() == 2

    # the point read pushes the bucket filter below the netting aggregate
    from pyspark.sql import functions as F

    assert os.path.isfile(store._marker)
    plan = (
        store._live()
        .where((F.col("b") == store._bucket(a)) & (F.col("id") == a))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "b" in pf

    before = {(r["id"], tuple(r["data"]), str(r["meta"])) for r in store.df.collect()}
    store.compact()
    assert not os.path.isfile(store._marker)  # netting work folded away
    assert len(glob.glob(f"{path}/b=*/part-*.parquet")) == 2
    after = {(r["id"], tuple(r["data"]), str(r["meta"])) for r in store.df.collect()}
    assert after == before
    assert store.read(b)["data"] == [3.0]


def test_compact_merges_small_files(spark, tmp_path):
    import glob

    path = str(tmp_path / "records")
    store = RecordStore(spark, path, num_buckets=2)
    for i in range(10):
        store.create([float(i)])  # 10 one-row files across 2 buckets
    n_before = len(glob.glob(f"{path}/b=*/part-*.parquet"))
    assert n_before >= 10
    store.compact()
    n_after = len(glob.glob(f"{path}/b=*/part-*.parquet"))
    assert n_after == 2  # one file per bucket
    assert store.count() == 10
    assert [r["id"] for r in store.list(per_page=3)[1]] == [1, 2, 3]


def test_point_read_prunes_to_one_bucket(spark, tmp_path):
    """The physical scan for read(rid) must touch only the id's bucket
    directory (partition pruning on the Hive partition column)."""
    from pyspark.sql import functions as F

    store = RecordStore(spark, str(tmp_path / "records"))
    for i in range(4):
        store.create([float(i)])
    rid = 3
    plan = (
        store._df_or_empty()
        .where((F.col("b") == store._bucket(rid)) & (F.col("id") == rid))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


@pytest.mark.parametrize("seed", [7, 23])
def test_merge_on_read_random_ops_match_dict_model(spark, tmp_path, seed):
    """Model-based check of the merge-on-read store: a random sequence of
    create / create_with_id / update / delete / delete_many / compact
    must leave the store equal to a plain dict model after every
    mutation batch — the netting, tombstone-marker, and compaction
    machinery can never disagree with ordinary map semantics."""
    import numpy as np

    rng = np.random.default_rng(seed)
    store = RecordStore(spark, str(tmp_path / f"records_{seed}"), num_buckets=4)
    model: dict[int, tuple] = {}
    next_id = 1

    def snapshot():
        got = {
            r["id"]: (tuple(r["data"]), tuple(r["shape"]), dict(r["meta"]))
            for r in store.df.collect()
        }
        want = {i: (tuple(d), tuple(s), dict(m)) for i, (d, s, m) in model.items()}
        assert got == want

    for step in range(14):
        op = rng.choice(["create", "create_id", "update", "delete", "delete_many", "compact"])
        if op == "create":
            data = [float(x) for x in rng.integers(0, 9, 3)]
            rid = store.create(data, meta={"s": str(step)})
            assert rid == next_id
            model[rid] = (data, [3], {"s": str(step)})
            next_id += 1
        elif op == "create_id":
            rid = int(rng.integers(100, 120))
            data = [float(step)]
            if rid in model:
                with pytest.raises(IdCollision):
                    store.create_with_id(rid, data)
            else:
                store.create_with_id(rid, data)
                model[rid] = (data, [1], {})
                next_id = max(next_id, rid + 1)
        elif op == "update" and model:
            rid = int(rng.choice(sorted(model)))
            data = [float(x) for x in rng.integers(0, 9, 2)]
            store.update(rid, data=data, meta={"u": str(step)})
            model[rid] = (data, model[rid][1], {"u": str(step)})
        elif op == "delete" and model:
            rid = int(rng.choice(sorted(model)))
            store.delete(rid)
            del model[rid]
        elif op == "delete_many" and model:
            ids = sorted(model)[: int(rng.integers(1, 3))] + [999_999]
            store.delete_many(ids)
            for i in ids:
                model.pop(i, None)
        elif op == "compact":
            store.compact()
        snapshot()

    # survives reopen (startup scan over the accumulated partials)
    store2 = RecordStore(spark, str(tmp_path / f"records_{seed}"), num_buckets=4)
    got = {r["id"] for r in store2.df.collect()}
    assert got == set(model)


def test_auto_compact_threshold(spark, tmp_path):
    """VERDICT r7 #8: with auto_compact_after set, mutations that push
    the on-disk partial-file count past num_buckets + threshold trigger
    one inline compaction — reads identical, one file per bucket,
    netting marker cleared; the next mutation re-marks."""
    import os

    from sum_spark.store import RecordStore

    p = str(tmp_path / "store_ac")
    st = RecordStore(spark, p, num_buckets=4, auto_compact_after=6)
    for i in range(8):
        st.create([float(i)], meta={"k": str(i)})
    before = {(r["id"], tuple(r["data"]), dict(r["meta"])["k"]) for r in st.df.collect()}
    marker = os.path.join(p, "_tombstones")
    fired = False
    for i in range(1, 9):
        st.update(i, data=[float(100 + i)])
        if not os.path.isfile(marker) and st._parquet_file_count() == 4:
            fired = True
            break
    assert fired, "auto-compact never fired within the threshold window"
    after = {(r["id"], tuple(r["data"]), dict(r["meta"])["k"]) for r in st.df.collect()}
    # identical ids/meta; data reflects the updates applied so far
    assert {t[0] for t in after} == {t[0] for t in before}
    assert len(after) == 8
    # the store keeps working after the fold: next mutation re-marks
    st.delete(8)
    assert os.path.isfile(marker)
    assert st.count() == 7


def test_auto_compact_fires_on_creates(spark, tmp_path):
    """Review r8: creates count toward the auto-compact threshold too —
    an insert-heavy store hits the small-files pathology without any
    tombstone ever existing."""
    from sum_spark.store import RecordStore

    p = str(tmp_path / "store_ac_create")
    st = RecordStore(spark, p, num_buckets=4, auto_compact_after=5)
    for i in range(12):
        st.create([float(i)])
    assert st._parquet_file_count() <= 4 + 5  # a fold ran mid-stream
    assert st.count() == 12
    assert {int(r["id"]) for r in st.df.collect()} == set(range(1, 13))


def test_keyset_pagination_equals_offset_walk(spark, tmp_path):
    """list_after pages through the store row-for-row identically to the
    offset form, and its seek predicate reaches the parquet scan as a
    pushed filter (O(page) per page, not O(offset))."""
    store = RecordStore(spark, str(tmp_path / "records"))
    for i in range(23):
        store.create([float(i)], meta={"k": str(i % 3)})
    # perturb the id space: deletes and an update mid-range
    store.delete(5)
    store.delete(18)
    store.update(9, data=[99.0])

    per_page = 4
    offset_rows = []
    page = 1
    while True:
        _, rows = store.list(page, per_page)
        if not rows:
            break
        offset_rows.extend(rows)
        page += 1

    keyset_rows, last_id = [], None
    while True:
        rows = store.list_after(last_id, per_page)
        if not rows:
            break
        keyset_rows.extend(rows)
        last_id = rows[-1]["id"]

    assert [tuple(r) for r in keyset_rows] == [tuple(r) for r in offset_rows]

    from pyspark.sql import functions as F

    plan = (
        store.df.where(F.col("id") > 7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "GreaterThan(id,7)" in plan


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` runs, counted under a job group
    of its own (the listener bus is drained first, so the count is
    exact)."""
    import uuid

    sc = spark.sparkContext
    group = f"store-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_path_job_counts(spark, tmp_path):
    """Per-op Spark jobs of the write path: a create is a driver-side
    Arrow write (0 jobs); update and delete keep only their read() — 1
    job on the pass-through path, 2 once the netting marker is set;
    compact is one write job over all dirty buckets, behind the netting
    aggregate's and the repartition's shuffle stages (3)."""
    store = RecordStore(spark, str(tmp_path / "records"), num_buckets=4)
    for i in range(8):
        assert _jobs(spark, lambda i=i: store.create([float(i)], meta={"k": str(i)})) == 0
    assert _jobs(spark, lambda: store.update(1, data=[9.0])) == 1
    assert _jobs(spark, lambda: store.delete(5)) == 2
    assert _jobs(spark, store.compact) == 3
    assert {r["id"]: list(r["data"]) for r in store.df.collect()} == {
        1: [9.0], 2: [1.0], 3: [2.0], 4: [3.0], 6: [5.0], 7: [6.0], 8: [7.0]
    }


def test_compact_folds_only_dirty_buckets(spark, tmp_path):
    """compact() rewrites only the buckets holding more than one visible
    file: with 2 of 16 dirty, the other 14 keep their files byte-identical
    (same path, same mtime), and folding 2 dirty buckets runs as many
    Spark jobs as folding 8."""
    import os

    def dirty_store(name: str, n_dirty: int) -> RecordStore:
        st = RecordStore(spark, str(tmp_path / name))
        assert st.num_buckets == 16
        st.create_many_with_id({i: [float(i)] for i in range(1, 33)})  # one file per bucket
        for b in range(n_dirty):
            st.update(16 + b, data=[-float(b)])  # id 16 + b lives in bucket b
        return st

    def files(st: RecordStore, bucket: int) -> dict[str, float]:
        d = st._bucket_dir(bucket)
        return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}

    two = dirty_store("two", 2)
    clean = {b: files(two, b) for b in range(2, 16)}
    want = {r["id"]: list(r["data"]) for r in two.df.collect()}
    jobs_two = _jobs(spark, two.compact)
    assert {b: files(two, b) for b in range(2, 16)} == clean
    assert all(len(fs) == 1 for fs in two._bucket_files().values())
    assert {r["id"]: list(r["data"]) for r in two.df.collect()} == want
    assert want[16] == [0.0] and want[17] == [-1.0]

    eight = dirty_store("eight", 8)
    assert _jobs(spark, eight.compact) == jobs_two
    assert eight._parquet_file_count() == 16


def test_staged_append_file_is_invisible(spark, tmp_path):
    """An append is written under a dot-name and renamed into view; one
    left behind by a crash between the two steps is invisible to reads,
    to the file count that drives auto-compaction, and to compaction."""
    import os
    import shutil

    store = RecordStore(spark, str(tmp_path / "records"), num_buckets=4)
    store.create([1.0])
    bucket_dir = store._bucket_dir(1)
    (part,) = os.listdir(bucket_dir)
    shutil.copy(os.path.join(bucket_dir, part), os.path.join(bucket_dir, ".part-left.parquet"))
    assert store.count() == 1  # a visible copy would read as a second row
    assert store._parquet_file_count() == 1
    store.compact()  # one visible file: nothing to fold
    assert sorted(os.listdir(bucket_dir)) == sorted([part, ".part-left.parquet"])
    assert store.read(1)["data"] == [1.0]
