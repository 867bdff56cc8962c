"""Bucketed-store contract: keyed MERGE with O(delta) I/O.

VERDICT round-1 item 1: an incremental batch must rewrite only the
hash buckets its keys land in, never the whole table (the Iceberg
MERGE INTO emulation, kgforge/store.py).  Reference upsert contract:
neo.go:193-249 / kuzu.go:203-252.
"""

import pyspark.sql.functions as F
import pytest

from kgforge.pipeline import PipelineConfig, run_insert
from kgforge.store import ParquetTableStore


def _mk_docs(spark, ids):
    rows = [
        (f"repo{a}", f"f{a}.txt", "HEAD", "text",
         f"document number {a} talks about spark tables and streams")
        for a in ids
    ]
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string",
    )


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=8)
    base = spark.range(0, 200).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.lit("v1").alias("val"),
    )
    store.upsert("tbl", base, ["key"])
    before = store.bucket_files("tbl")
    assert len(before) == 8  # 200 keys cover all 8 buckets

    delta = spark.createDataFrame(
        [("k3", "v2"), ("k7", "v2")], "key string, val string"
    )
    staged = store.upsert("tbl", delta, ["key"])
    after = store.bucket_files("tbl")

    # O(delta): at most 2 buckets rewritten, the rest byte-identical.
    assert 1 <= staged.buckets_touched <= 2
    changed = [b for b in before if before[b] != after[b]]
    assert len(changed) == staged.buckets_touched
    untouched = [b for b in before if b not in changed]
    assert len(untouched) >= 6
    for b in untouched:
        assert before[b] == after[b]

    # MERGE semantics intact: new rows win, others survive.
    got = {r.key: r.val for r in store.read("tbl").collect()}
    assert len(got) == 200
    assert got["k3"] == "v2" and got["k7"] == "v2" and got["k5"] == "v1"


def test_upsert_insert_only_delta(spark, tmp_path):
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=8)
    base = spark.range(0, 50).select(
        F.concat(F.lit("a"), F.col("id")).alias("key"),
        F.col("id").alias("val"),
    )
    store.upsert("tbl", base, ["key"])
    new = spark.createDataFrame([("zz", 99)], "key string, val long")
    staged = store.upsert("tbl", new, ["key"])
    assert staged.buckets_touched == 1
    assert store.read("tbl").count() == 51


def test_unbucketed_table_migrates_on_first_upsert(spark, tmp_path):
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    plain = spark.createDataFrame(
        [("a", 1), ("b", 2)], "key string, val long"
    )
    store.overwrite("legacy", plain)  # unbucketed layout
    assert not store._is_bucketed("legacy")
    store.upsert(
        "legacy",
        spark.createDataFrame([("b", 20), ("c", 3)], "key string, val long"),
        ["key"],
    )
    assert store._is_bucketed("legacy")
    got = {r.key: r.val for r in store.read("legacy").collect()}
    assert got == {"a": 1, "b": 20, "c": 3}


def test_staged_commit_is_all_or_nothing_visibility(spark, tmp_path):
    """Nothing staged is visible before commit; everything after."""
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    df1 = spark.createDataFrame([("x", 1)], "key string, val long")
    df2 = spark.createDataFrame([("y", 2)], "key string, val long")
    s1 = store.stage_upsert("t1", df1, ["key"])
    s2 = store.stage_upsert("t2", df2, ["key"])
    assert store.read("t1") is None and store.read("t2") is None
    store.commit([s1, s2])
    assert store.read("t1").count() == 1
    assert store.read("t2").count() == 1


def test_incremental_insert_touches_o_delta_chunk_buckets(spark, tmp_path):
    """End-to-end: run_insert of 1 new doc after 60 must rewrite only
    the new chunk's bucket in the chunks table (oracle semantics are
    covered by the driver correctness gate; this pins the I/O shape)."""
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=8)
    cfg = PipelineConfig(chunk_max_tokens=512, chunk_overlap_tokens=0)
    run_insert(spark, _mk_docs(spark, range(60)), store, cfg)
    before = store.bucket_files("chunks")
    assert len(before) == 8

    run_insert(spark, _mk_docs(spark, range(61)), store, cfg)
    after = store.bucket_files("chunks")
    changed = [b for b in before if before[b] != after[b]]
    # exactly one new chunk -> exactly one chunks bucket rewritten
    assert len(changed) == 1
    assert store.read("chunks").count() == 61
    # graph row counts converge (same entities, weights merged)
    nodes = {r.entity_id for r in store.read("nodes").collect()}
    assert "SPARK" in nodes or "TABLES" in nodes


def test_rerun_same_input_is_noop_for_store_files(spark, tmp_path):
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=8)
    cfg = PipelineConfig(chunk_max_tokens=512, chunk_overlap_tokens=0)
    docs = _mk_docs(spark, range(20))
    run_insert(spark, docs, store, cfg)
    before = {
        t: store.bucket_files(t) for t in ("chunks", "nodes", "edges")
    }
    m = run_insert(spark, docs, store, cfg)
    assert m["docs_processed"] == 0
    after = {
        t: store.bucket_files(t) for t in ("chunks", "nodes", "edges")
    }
    assert before == after


def test_commit_all_or_nothing_under_crash(spark, tmp_path, monkeypatch):
    """VERDICT r2 item 3: a crash ANYWHERE inside commit() must leave
    either the complete old state or the complete new state across
    ALL tables — the manifest pointer swap is the single atomicity
    point (Iceberg snapshot semantics; kuzu.go/neo.go upsert
    contract)."""
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    store.upsert(
        "edges",
        spark.createDataFrame([("a", "b", 1)], "src string, dst string, weight long"),
        ["src", "dst"],
    )
    store.upsert(
        "checkpoint",
        spark.createDataFrame([("d1", "s1")], "doc_id string, sha string"),
        ["doc_id"],
    )
    s1 = store.stage_upsert(
        "edges",
        spark.createDataFrame([("a", "b", 2), ("x", "y", 1)],
                              "src string, dst string, weight long"),
        ["src", "dst"],
    )
    s2 = store.stage_upsert(
        "checkpoint",
        spark.createDataFrame([("d2", "s2")], "doc_id string, sha string"),
        ["doc_id"],
    )

    # crash at the pointer swap — the last possible instant
    def boom(src, dst):
        raise OSError("simulated crash before pointer swap")

    monkeypatch.setattr(store, "_replace", boom)
    with pytest.raises(OSError):
        store.commit([s1, s2])
    # reader (fresh store handle = fresh process after the crash)
    reader = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    assert {r.weight for r in reader.read("edges").collect()} == {1}
    assert reader.read("checkpoint").count() == 1

    # recovery: redo the commit — both tables flip together
    monkeypatch.undo()
    store.commit([s1, s2])
    got = {(r.src, r.dst): r.weight for r in reader.read("edges").collect()}
    assert got == {("a", "b"): 2, ("x", "y"): 1}
    assert reader.read("checkpoint").count() == 2


def test_orphan_dirs_are_never_discoverable(spark, tmp_path):
    """round-2 ADVICE item 1: stale/abandoned directories inside the
    table path must never resurrect rows — readers resolve ONLY
    through the manifest."""
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    df = spark.createDataFrame([("a", 1), ("b", 2)], "key string, val long")
    store.upsert("tbl", df, ["key"])
    # plant an orphan generation dir carrying poison rows
    poison = spark.createDataFrame([("zombie", 666)], "key string, val long")
    poison.write.parquet(str(tmp_path / "t" / "tbl" / "b0-deadbeef"))
    got = {r.key for r in store.read("tbl").collect()}
    assert got == {"a", "b"}
    removed = store.vacuum()
    assert any("deadbeef" in d for d in removed)
    assert {r.key for r in store.read("tbl").collect()} == {"a", "b"}


def test_crash_mid_stage_leaves_old_state_and_vacuums(spark, tmp_path):
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    df = spark.createDataFrame([("a", 1)], "key string, val long")
    store.upsert("tbl", df, ["key"])
    # stage but never commit (= crash between stage and commit)
    store.stage_upsert(
        "tbl",
        spark.createDataFrame([("a", 9), ("c", 3)], "key string, val long"),
        ["key"],
    )
    reader = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    assert {r.val for r in reader.read("tbl").collect()} == {1}
    reader.vacuum()
    assert {r.val for r in reader.read("tbl").collect()} == {1}


def test_schema_evolution_add_column_backfills_nulls(spark, tmp_path):
    """round-2 ADVICE item 2: upserting rows with NEW columns must
    keep them (old rows read as null), never silently project them
    away; a TYPE change must raise."""
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    store.upsert(
        "emb",
        spark.createDataFrame([("e1", "x")], "id string, vec string"),
        ["id"],
    )
    store.upsert(
        "emb",
        spark.createDataFrame(
            [("e2", "y", "A", "B")],
            "id string, vec string, src string, dst string",
        ),
        ["id"],
    )
    rows = {r.id: (r.src, r.dst) for r in store.read("emb").collect()}
    assert rows["e2"] == ("A", "B")
    assert rows["e1"] == (None, None)

    with pytest.raises(ValueError, match="schema evolution conflict"):
        store.upsert(
            "emb",
            spark.createDataFrame([("e3", 5)], "id string, vec long"),
            ["id"],
        )


def test_check_evolution_ignores_nullability_only(spark, tmp_path):
    """Two batches of one table may differ only in nullability (Spark
    infers it per plan): that passes, and the recorded schema is the
    widened, nullable one.  A real type change, also one nested in an
    array, map or struct, still raises."""
    from pyspark.sql.types import (
        ArrayType, LongType, MapType, StringType, StructField, StructType,
    )

    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)

    def schema(elem, contains_null, nullable, value=StringType()):
        return StructType([
            StructField("id", StringType(), nullable),
            StructField("ids", ArrayType(elem, contains_null), True),
            StructField(
                "m", MapType(StringType(), value, contains_null), True
            ),
            StructField("s", StructType([
                StructField("x", ArrayType(elem, contains_null), nullable)
            ]), True),
        ])

    old = schema(StringType(), True, True)
    new = schema(StringType(), False, False)
    assert store._check_evolution(old, new, "edges") == old
    assert store._check_evolution(new, old, "edges") == old
    # added and dropped columns carry through next to the widening
    added = StructType(new.fields + [StructField("w", LongType(), True)])
    got = store._check_evolution(old, added, "edges")
    assert got == StructType(old.fields + [added["w"]])
    assert store._check_evolution(added, new, "edges") == StructType(
        new.fields + [added["w"]]
    )

    for bad in (
        schema(LongType(), True, True),
        schema(StringType(), True, True, value=LongType()),
    ):
        with pytest.raises(ValueError, match="schema evolution conflict"):
            store._check_evolution(old, bad, "edges")
    renamed = StructType(old.fields[:3] + [StructField(
        "s", StructType([StructField("y", ArrayType(StringType()))])
    )])
    with pytest.raises(ValueError, match="column 's'"):
        store._check_evolution(old, renamed, "edges")


def test_chained_deltas_on_one_store(spark, tmp_path):
    """A full ingest, then two different deltas onto the same store:
    each delta's merge reads existing rows back, so its batches differ
    from the stored schema in nullability, which must not count as a
    schema change."""
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    cfg = PipelineConfig()
    docs = _mk_docs(spark, range(6))

    def edit(df, path, text):
        return df.withColumn(
            "content",
            F.when(F.col("path") == path, F.lit(text)).otherwise(
                F.col("content")
            ),
        )

    run_insert(spark, docs, store, cfg)
    delta1 = edit(docs, "f0.txt",
                  "document zero now talks about spark streams twice")
    m1 = run_insert(spark, delta1, store, cfg)
    assert m1["docs_processed"] == 1
    delta2 = edit(delta1, "f1.txt",
                  "document one talks about spark tables and caches")
    delta2 = delta2.unionByName(_mk_docs(spark, [6]))
    m2 = run_insert(spark, delta2, store, cfg)
    assert (m2["docs_processed"], m2["docs_skipped"]) == (2, 5)
    assert store.read("checkpoint").count() == 7
    edges = store.read("edges")
    nodes = {r.entity_id for r in store.read("nodes").collect()}
    for r in edges.select("src", "dst").collect():
        assert r.src in nodes and r.dst in nodes
    # a third run of the same input is a no-op
    assert run_insert(spark, delta2, store, cfg)["docs_processed"] == 0


def test_exists_recognizes_partitioned_plain_tables(spark, tmp_path):
    """round-2 ADVICE item 3: overwrite(partition_by=...) tables must
    be visible to exists()/read() so a later upsert migrates instead
    of silently discarding rows."""
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    df = spark.createDataFrame(
        [("a", "p1", 1), ("b", "p2", 2)], "key string, part string, val long"
    )
    store.overwrite("ptab", df, partition_by=["part"])
    assert store.exists("ptab")
    assert store.read("ptab").count() == 2
    store.upsert(
        "ptab",
        spark.createDataFrame([("c", "p1", 3)],
                              "key string, part string, val long"),
        ["key"],
    )
    got = {r.key: r.val for r in store.read("ptab").collect()}
    assert got == {"a": 1, "b": 2, "c": 3}


def test_snapshot_time_travel_with_history(spark, tmp_path):
    """Manifest commits give Iceberg-style snapshot reads for free:
    with retain_history=True each committed version stays readable
    (VERSION AS OF); vacuum() is the expiration step."""
    store = ParquetTableStore(
        spark, str(tmp_path / "t"), n_buckets=4, retain_history=True
    )
    store.upsert(
        "tbl", spark.createDataFrame([("a", 1)], "key string, val long"),
        ["key"],
    )
    v1 = store.snapshots()[-1]
    store.upsert(
        "tbl",
        spark.createDataFrame([("a", 9), ("b", 2)], "key string, val long"),
        ["key"],
    )
    v2 = store.snapshots()[-1]
    assert v2 > v1
    # current read sees the merge; snapshot read sees the past
    assert {r.val for r in store.read("tbl").collect()} == {9, 2}
    assert {(r.key, r.val) for r in store.read_at("tbl", v1).collect()} \
        == {("a", 1)}
    assert {(r.key, r.val) for r in store.read_at("tbl", v2).collect()} \
        == {("a", 9), ("b", 2)}
    # expiration: vacuum reclaims dirs unreferenced by CURRENT
    store.vacuum()
    with pytest.raises(ValueError, match="expired"):
        store.read_at("tbl", v1)
    # current state untouched
    assert {r.val for r in store.read("tbl").collect()} == {9, 2}


def test_eager_gc_store_has_no_history(spark, tmp_path):
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    store.upsert(
        "tbl", spark.createDataFrame([("a", 1)], "key string, val long"),
        ["key"],
    )
    v1 = store.snapshots()[-1]
    store.upsert(
        "tbl", spark.createDataFrame([("a", 2)], "key string, val long"),
        ["key"],
    )
    with pytest.raises(ValueError, match="expired"):
        store.read_at("tbl", v1)


def test_compact_rewrites_multifile_buckets_atomically(spark, tmp_path):
    """Iceberg rewrite_data_files analog.  The store's own writes now
    emit one file per bucket (the shuffle-free bulk path was retired
    as ~10x slower), so simulate accumulated write debt — the
    wide-parallelism configuration a huge table would use — by
    appending extra files into live bucket dirs; compact() coalesces
    each oversized bucket through a snapshot commit, rows intact."""
    import os

    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    base = spark.range(0, 400).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.col("id").alias("val"),
    )
    store.upsert("tbl", base, ["key"])
    # add a second file to every bucket dir (distinct key space so
    # row counts are easy to pin)
    extra = spark.range(400, 500).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.col("id").alias("val"),
    )
    t = store._manifest()["tables"]["tbl"]
    for dname in t["buckets"].values():
        extra.limit(5).coalesce(1).write.mode("append").parquet(
            os.path.join(store.root, dname)
        )
    before = store.bucket_files("tbl")
    assert all(len(files) > 1 for files in before.values())
    n_before = store.read("tbl").count()
    rewritten = store.compact("tbl")
    assert set(rewritten) == set(before)
    after = store.bucket_files("tbl")
    assert all(len(files) == 1 for files in after.values())
    assert store.read("tbl").count() == n_before
    # idempotent: second pass is a no-op
    assert store.compact("tbl") == {}


def test_store_merge_matches_dict_model_property(spark, tmp_path):
    """Model-based property: any sequence of keyed upserts/overwrites
    must leave the table equal to a plain dict applying the same
    operations (new rows win on key collision; overwrite replaces
    everything).  Randomized via hypothesis over a small key pool so
    collisions, bucket reuse and the migration path all get hit."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    keys = st.sampled_from([f"k{i}" for i in range(6)])
    batch = st.lists(
        st.tuples(keys, st.integers(0, 99)), min_size=1, max_size=4
    )
    ops = st.lists(
        st.tuples(st.sampled_from(["upsert", "overwrite"]), batch),
        min_size=1,
        max_size=5,
    )
    counter = [0]

    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(ops=ops)
    def run(ops):
        counter[0] += 1
        store = ParquetTableStore(
            spark, str(tmp_path / f"prop{counter[0]}"), n_buckets=4
        )
        model = {}
        for op, rows in ops:
            # dedup within a batch up front: the engine's
            # dropDuplicates keeps an arbitrary row per key, so the
            # model and the engine must see an already-unique batch
            batch_map = {}
            for k, v in rows:
                batch_map.setdefault(k, v)
            df = spark.createDataFrame(
                list(batch_map.items()), "key string, val long"
            )
            if op == "upsert":
                store.upsert("t", df, ["key"])
                model.update(batch_map)
            else:
                store.overwrite("t", df, keys=["key"])
                model = dict(batch_map)
        got = {r.key: r.val for r in store.read("t").collect()}
        assert got == model

    run()


# ---------------------------------------------------------------------------
# ADVICE r3 hardening: corrupted-read detection, append evolution,
# vacuum vs staged writes
# ---------------------------------------------------------------------------


def test_read_raises_on_missing_manifest_dir(spark, tmp_path):
    """A data dir referenced by CURRENT but missing on disk is
    corruption: read() must raise, never silently return partial
    rows (previously only read_at() checked)."""
    import os
    import shutil

    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    df = spark.range(0, 50).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"),
        F.col("id").alias("val"),
    )
    store.upsert("tbl", df, ["key"])
    t = store._manifest()["tables"]["tbl"]
    victim = sorted(t["buckets"].values())[0]
    shutil.rmtree(os.path.join(store.root, victim))
    with pytest.raises(ValueError, match="missing data"):
        store.read("tbl").collect()


def test_append_schema_evolution_union_by_name(spark, tmp_path):
    """append() keeps the UNION of old and new schemas in the
    manifest (a batch dropping a column cannot hide it from earlier
    generations) and raises loudly on a type change."""
    store = ParquetTableStore(spark, str(tmp_path / "t"))
    a = spark.createDataFrame([("x", 1)], "key string, a long")
    store.append("logs", a)
    b = spark.createDataFrame([("y", 2.5)], "key string, b double")
    store.append("logs", b)
    got = {r.key: (r.a, r.b) for r in store.read("logs").collect()}
    assert got == {"x": (1, None), "y": (None, 2.5)}
    bad = spark.createDataFrame([("z", "s")], "key string, a string")
    with pytest.raises(ValueError, match="evolution conflict"):
        store.append("logs", bad)


def test_vacuum_spares_staged_uncommitted_dirs(spark, tmp_path):
    """vacuum() between stage_upsert() and commit() must not delete
    the staged (manifest-invisible) generation dirs — the later
    commit publishes them."""
    store = ParquetTableStore(spark, str(tmp_path / "t"), n_buckets=4)
    base = spark.createDataFrame(
        [("k1", 1), ("k2", 2)], "key string, val long"
    )
    store.upsert("tbl", base, ["key"])
    delta = spark.createDataFrame([("k1", 9)], "key string, val long")
    staged = store.stage_upsert("tbl", delta, ["key"])
    removed = store.vacuum()
    assert not set(staged.staged_dirs) & set(removed)
    store.commit([staged])
    got = {r.key: r.val for r in store.read("tbl").collect()}
    assert got == {"k1": 9, "k2": 2}


def test_commit_conflict_detection(spark, tmp_path):
    """Optimistic concurrency (Iceberg commit semantics): a staged
    write whose base table entry changed before commit() must raise
    instead of silently dropping the other writer's rows; commits to
    OTHER tables in the window do not conflict."""
    from kgforge.store import CommitConflictError

    root = str(tmp_path / "t")
    a = ParquetTableStore(spark, root, n_buckets=4)
    b = ParquetTableStore(spark, root, n_buckets=4)
    base = spark.createDataFrame(
        [("k1", 1), ("k2", 2)], "key string, val long"
    )
    a.upsert("tbl", base, ["key"])

    staged = a.stage_upsert(
        "tbl",
        spark.createDataFrame([("k1", 10)], "key string, val long"),
        ["key"],
    )
    # writer B sneaks in a commit to the SAME table
    b.upsert(
        "tbl",
        spark.createDataFrame([("k3", 3)], "key string, val long"),
        ["key"],
    )
    with pytest.raises(CommitConflictError, match="tbl"):
        a.commit([staged])
    # B's row survived; A's stale merge never published
    got = {r.key: r.val for r in a.read("tbl").collect()}
    assert got == {"k1": 1, "k2": 2, "k3": 3}

    # a commit to a DIFFERENT table does not conflict
    staged2 = a.stage_upsert(
        "tbl",
        spark.createDataFrame([("k1", 10)], "key string, val long"),
        ["key"],
    )
    b.upsert(
        "other",
        spark.createDataFrame([("x", 0)], "key string, val long"),
        ["key"],
    )
    a.commit([staged2])
    got = {r.key: r.val for r in a.read("tbl").collect()}
    assert got == {"k1": 10, "k2": 2, "k3": 3}


def test_conflicted_batch_releases_staged_dirs_for_vacuum(spark, tmp_path):
    """Review finding r4: a CommitConflictError kills the whole
    staged batch — its invisible generation dirs must leave the
    vacuum-exclusion set so a retrying long-lived writer does not
    leak disk forever; and two staged writes for one table in a
    single commit are rejected outright."""
    from kgforge.store import CommitConflictError

    root = str(tmp_path / "t")
    a = ParquetTableStore(spark, root, n_buckets=4)
    b = ParquetTableStore(spark, root, n_buckets=4)
    a.upsert("tbl", spark.createDataFrame(
        [("k1", 1)], "key string, val long"), ["key"])

    staged = a.stage_upsert("tbl", spark.createDataFrame(
        [("k1", 9)], "key string, val long"), ["key"])
    b.upsert("tbl", spark.createDataFrame(
        [("k2", 2)], "key string, val long"), ["key"])
    with pytest.raises(CommitConflictError):
        a.commit([staged])
    removed = a.vacuum()
    assert set(staged.staged_dirs) <= set(removed)  # reclaimed

    s1 = a.stage_upsert("tbl", spark.createDataFrame(
        [("k3", 3)], "key string, val long"), ["key"])
    s2 = a.stage_upsert("tbl", spark.createDataFrame(
        [("k4", 4)], "key string, val long"), ["key"])
    with pytest.raises(ValueError, match="multiple staged writes"):
        a.commit([s1, s2])
