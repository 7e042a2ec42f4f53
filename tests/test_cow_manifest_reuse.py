"""Incremental commit metadata (r12): manifest shards are
content-addressed and REUSED across commits, so commit metadata I/O is
O(changed files), not O(table files) — the Iceberg manifest-reuse
model (unchanged manifests are referenced, never rewritten; compare
the reference's only metadata story, full table replace,
reference pipeline.py:213). Pins the round-12 contract:

- a 1-file append to a >2-shard table writes AT MOST 1 new shard and
  re-references every untouched shard by name;
- a metadata-only commit (tag / SET TBLPROPERTIES) writes ZERO shards;
- a delete rewrites only the shard(s) holding dead entries;
- rollback re-derives earlier content hashes, so restoring reuses
  still-present shard files byte-for-byte (zero writes);
- vacuum ref-counts shards across RETAINED snapshots (shared shards
  survive expiry of one referencing snapshot) and reclaims aged
  lost-race orphans.
"""

from __future__ import annotations

import pytest

import data_warehouse_solution_spark.cowtable as cow


def _shard_files(spark, path):
    fs, _ = cow._fs(spark, path)
    return {
        st.getPath().getName()
        for st in fs.listStatus(cow._jpath(spark, f"{path}/{cow.MANIFEST_DIR}"))
        if cow._SHARD_CONTENT_RE.match(st.getPath().getName())
        or cow._SHARD_RE.match(st.getPath().getName())
    }


def _refs(spark, path, n):
    return list(
        cow.json.loads(
            cow._read_file(spark, cow._manifest_path(path, n)).decode()
        ).get("file_shards")
        or []
    )


def _mk(spark, path, nfiles=13):
    df = spark.range(nfiles * 2).withColumnRenamed("id", "k").repartition(nfiles)
    cow.create(spark, path, df)


def test_append_rewrites_at_most_one_shard(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    p = str(tmp_path / "t")
    _mk(spark, p)  # 13 files -> >2 shards
    refs1 = _refs(spark, p, 1)
    assert len(refs1) > 2
    on_disk1 = _shard_files(spark, p)
    cow.append(spark, p, spark.createDataFrame([(999,)], "k long"))
    refs2 = _refs(spark, p, 2)
    new_names = set(refs2) - set(refs1)
    assert len(new_names) <= 1, "1-file append rewrote >1 shard"
    # every untouched shard is referenced by NAME, not rewritten
    assert len(set(refs2) & set(refs1)) >= len(refs1) - 1
    written = _shard_files(spark, p) - on_disk1
    assert len(written) <= 1
    assert cow.read(spark, p).count() == 27


def test_metadata_only_commits_write_zero_shards(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    p = str(tmp_path / "t")
    _mk(spark, p)
    refs1 = _refs(spark, p, 1)
    on_disk1 = _shard_files(spark, p)
    cow.create_tag(spark, p, "v1")  # snapshot 2
    cow.alter_set_write_mode(spark, p, "mor")  # snapshot 3
    assert _refs(spark, p, 2) == refs1
    assert _refs(spark, p, 3) == refs1
    assert _shard_files(spark, p) == on_disk1, (
        "metadata-only commit wrote shard files"
    )


def test_delete_rewrites_only_dirty_shards(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    p = str(tmp_path / "t")
    _mk(spark, p)
    refs1 = _refs(spark, p, 1)
    m = cow._load_manifest(spark, p, 1)
    # rows live in exactly one file -> exactly one shard holds it
    victim_file = m["files"][0]["name"]
    one = (
        cow._read_files(spark, p, m, [victim_file])
        .limit(1)
        .collect()[0]["k"]
    )
    cow.delete(spark, p, f"k = {one}")
    refs2 = _refs(spark, p, 2)
    # every shard NOT holding the victim entry is referenced verbatim
    changed = set(refs1) - set(refs2)
    assert len(changed) <= 1, f"delete dirtied {len(changed)} shards"
    assert cow.read(spark, p).filter(f"k = {one}").count() == 0


def test_rollback_reuses_restored_content(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    p = str(tmp_path / "t")
    _mk(spark, p)
    refs1 = _refs(spark, p, 1)
    cow.append(spark, p, spark.createDataFrame([(999,)], "k long"))
    on_disk = _shard_files(spark, p)
    cow.rollback(spark, p, 1)
    refs3 = _refs(spark, p, 3)
    # identical content -> identical hashes -> snapshot-1 shard names
    # come back verbatim and NOTHING new hits the disk
    assert set(refs3) == set(refs1)
    assert _shard_files(spark, p) == on_disk
    assert cow.read(spark, p).count() == 26


def test_vacuum_refcounts_shared_shards_and_reclaims_orphans(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    p = str(tmp_path / "t")
    _mk(spark, p)
    refs1 = set(_refs(spark, p, 1))
    cow.append(spark, p, spark.createDataFrame([(999,)], "k long"))  # 2
    refs2 = set(_refs(spark, p, 2))
    shared = refs1 & refs2
    assert shared, "append should share shards with its parent"
    # plant a lost-race orphan: content-named shard nothing references
    orphan = "manifest-files-" + "0" * 16 + ".json"
    cow._write_file(spark, f"{p}/{cow.MANIFEST_DIR}/{orphan}", b"[]")
    cow.vacuum(spark, p, keep_last=1, min_file_age_seconds=0)
    left = _shard_files(spark, p)
    assert shared <= left, "vacuum deleted a shard the head references"
    assert orphan not in left, "vacuum left the aged orphan behind"
    assert not (refs1 - refs2) & left, (
        "vacuum kept a shard only the expired snapshot referenced"
    )
    assert cow.read(spark, p).count() == 27
    with pytest.raises(ValueError, match="not available"):
        cow.read(spark, p, snapshot=1)


def test_append_never_expands_parent_shards(spark, tmp_path, monkeypatch):
    """r12 O(new) append: the commit references the parent's shards
    from the manifest proper — it must read AT MOST the trailing
    small shard (for the merge) and never expand the full list, which
    is what keeps a 1-row INSERT into a 1M-file table ~KB of metadata
    READ as well as write."""
    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    p = str(tmp_path / "t")
    _mk(spark, p)
    reads: list[str] = []
    orig = cow._read_shard

    def counting(sp, path):
        reads.append(path.rsplit("/", 1)[-1])
        return orig(sp, path)

    monkeypatch.setattr(cow, "_read_shard", counting)
    st = cow.append(spark, p, spark.createDataFrame([(999,)], "k long"))
    assert st["files_written"] == 1
    assert len(reads) <= 1, f"append expanded parent shards: {reads}"
    m2 = cow._load_manifest(spark, p, 2)
    assert m2["n_files"] == len(m2["files"])
    assert cow.read(spark, p).count() == 27


def test_local_head_lookup_makes_no_py4j_call(spark, tmp_path, monkeypatch):
    """``current_snapshot`` lists a local table's ``_manifests/`` with
    ``os.scandir``, and skips the Hadoop ``.crc`` siblings as the
    Hadoop listing did."""
    p = str(tmp_path / "t")
    _mk(spark, p, nfiles=2)
    for i in range(3):
        cow.append(spark, p, spark.createDataFrame([(100 + i,)], "k long"))
    mdir = tmp_path / "t" / cow.MANIFEST_DIR
    assert any(n.name.endswith(".crc") for n in mdir.iterdir())
    client = spark.sparkContext._gateway._gateway_client
    real, calls = client.send_command, []

    def counted(cmd, *a, **k):
        calls.append(cmd)
        return real(cmd, *a, **k)

    monkeypatch.setattr(client, "send_command", counted)
    head = cow.current_snapshot(spark, p)
    monkeypatch.setattr(client, "send_command", real)
    assert calls == [] and head == 4
    monkeypatch.setattr(cow, "_local_fs_path", lambda path: None)
    assert cow._list_snapshots(spark, p) == [1, 2, 3, 4]
    assert cow._list_snapshots(spark, str(tmp_path / "absent")) == []


def test_head_lookup_asks_hadoop_off_the_local_filesystem(spark, tmp_path, monkeypatch):
    """A path without a scheme resolves on ``fs.defaultFS``. When that
    is not the local filesystem, or the local directory is missing,
    the head still comes from the Hadoop listing: an existing table is
    never taken for an absent one."""
    p = str(tmp_path / "t")
    _mk(spark, p, nfiles=2)
    cow.append(spark, p, spark.createDataFrame([(100,)], "k long"))
    monkeypatch.setattr(cow, "_local_fs_path", lambda path: "/nonexistent" + path)
    assert cow.current_snapshot(spark, p) == 2
    monkeypatch.undo()
    monkeypatch.setitem(cow._handles(spark)["local"], ("", ""), False)

    def no_scandir(path):
        raise AssertionError(f"scanned {path} on a non-local default FS")

    monkeypatch.setattr(cow.os, "scandir", no_scandir)
    assert cow.current_snapshot(spark, p) == 2
    with pytest.raises(cow.CowTableNotFound):
        cow.current_snapshot(spark, str(tmp_path / "absent"))
