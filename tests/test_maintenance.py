"""Predicate DELETE/UPDATE (copy-on-write) and orphan-file vacuum (round 5).

The scale claims are structural and asserted on the manifest, not inferred:
a predicate mutation must rewrite ONLY the buckets holding matching rows
(untouched buckets keep their existing data-version references), stats
pruning must keep disjoint buckets out of the candidate scan, and vacuum
must never touch a referenced or fresh data dir.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from kafka_connect_plugins_spark.plans.lake_table import LakeTable


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "lake")
    shutil.rmtree(root, ignore_errors=True)
    t = LakeTable.create(spark, root, key_columns=["repo", "path"], num_buckets=16)
    src = spark.range(400).select(
        F.concat(F.lit("repo-"), (F.col("id") % 20).cast("string")).alias("repo"),
        F.concat(F.lit("f"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
        F.col("id").alias("_lsn"),
        F.lit(False).alias("_tombstone"),
        F.concat(F.lit("content-"), F.col("id").cast("string")).alias("content"),
    )
    t.merge(src, epoch_id=0)
    return t


class TestDeleteWhere:
    def test_rows_gone_and_counted(self, spark, table):
        before = table.read().count()
        out = table.delete_where(F.col("repo") == "repo-3")
        assert out["rows_matched"] == 20
        assert table.read().filter(F.col("repo") == "repo-3").count() == 0
        assert table.read().count() == before - 20

    def test_only_dirty_buckets_rewritten(self, spark, table):
        m0 = table.manifest()
        out = table.delete_where(F.col("repo") == "repo-3")
        m1 = table.manifest()
        assert m1["version"] == m0["version"] + 1
        changed = [
            b for b in m0["buckets"]
            if m1["buckets"].get(b) != m0["buckets"][b]
        ]
        # repo-3's 20 paths hash into a few of 16 buckets, never all
        assert 1 <= len(changed) == out["buckets_rewritten"] < len(m0["buckets"])
        # untouched buckets still reference the ORIGINAL files by version
        untouched = set(m0["buckets"]) - set(changed)
        assert untouched
        for b in untouched:
            assert m1["buckets"][b] == m0["buckets"][b]

    def test_time_travel_still_sees_rows(self, spark, table):
        v0 = table.manifest()["version"]
        table.delete_where(F.col("repo") == "repo-3")
        old = table.read(version=v0)
        assert old.filter(F.col("repo") == "repo-3").count() == 20

    def test_no_match_commits_nothing(self, spark, table):
        v0 = table.manifest()["version"]
        out = table.delete_where(F.col("repo") == "no-such-repo")
        assert out == {"op": "delete_where", "rows_matched": 0, "buckets_rewritten": 0}
        assert table.manifest()["version"] == v0

    def test_delete_ignores_tombstone_markers(self, spark, table):
        # a delete marker for repo-3 must survive a predicate delete (it still
        # shields against late lower-LSN inserts); only live rows are matched
        tomb = spark.createDataFrame(
            [("repo-3", "ghost.py", 10_000, True, None)],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        table.merge(tomb, epoch_id=1)
        table.delete_where(F.col("repo") == "repo-3")
        internal = table.read_internal()
        markers = internal.filter(F.col("_tombstone") & (F.col("repo") == "repo-3"))
        assert markers.count() == 1

    def test_stats_pruned_scan(self, spark, table):
        # the candidate scan honors the same manifest-stats pruning as read():
        # a prune window matching nothing returns without a rewrite
        out = table.delete_where(
            F.col("_lsn") > 10_000_000, prune={"_lsn": (10_000_001, None)}
        )
        assert out["rows_matched"] == 0


class TestUpdateWhere:
    def test_values_rewritten(self, spark, table):
        out = table.update_where(
            F.col("repo") == "repo-3",
            {"content": F.lit("[redacted]")},
        )
        assert out["rows_matched"] == 20
        got = table.read().filter(F.col("repo") == "repo-3")
        assert got.count() == 20
        assert got.filter(F.col("content") == "[redacted]").count() == 20
        # no other repo was touched
        others = table.read().filter(F.col("repo") != "repo-3")
        assert others.filter(F.col("content") == "[redacted]").count() == 0

    def test_rhs_sees_old_row(self, spark, table):
        table.update_where(
            F.col("repo") == "repo-3",
            {"content": F.concat(F.col("content"), F.lit("!"))},
        )
        got = table.read().filter(F.col("repo") == "repo-3").select("path", "content")
        for r in got.collect():
            assert r["content"].startswith("content-") and r["content"].endswith("!")

    def test_schema_type_preserved(self, spark, table):
        # assignment exprs are cast back to the table type: an int literal
        # into a string column stays a string column
        table.update_where(F.col("repo") == "repo-3", {"content": F.lit(7)})
        assert dict(table.read().dtypes)["content"] == "string"
        assert (
            table.read()
            .filter((F.col("repo") == "repo-3") & (F.col("content") == "7"))
            .count()
            == 20
        )

    def test_key_and_bookkeeping_columns_rejected(self, spark, table):
        with pytest.raises(ValueError, match="key/bookkeeping"):
            table.update_where(F.lit(True), {"repo": F.lit("x")})
        with pytest.raises(ValueError, match="key/bookkeeping"):
            table.update_where(F.lit(True), {"_lsn": F.lit(0)})
        with pytest.raises(ValueError, match="no such columns"):
            table.update_where(F.lit(True), {"nope": F.lit(0)})


class TestRemoveOrphans:
    def test_orphan_removed_live_kept(self, spark, table, tmp_path):
        data_dir = os.path.join(str(tmp_path / "lake"), "data")
        live_before = sorted(os.listdir(data_dir))
        # fabricate a crashed write: a data dir no manifest references
        orphan = os.path.join(data_dir, "v9999")
        os.makedirs(orphan)
        old = 0  # epoch mtime — far past any grace window
        os.utime(orphan, (old, old))
        out = table.remove_orphans(grace_seconds=3600)
        assert out["removed"] == [9999]
        assert sorted(os.listdir(data_dir)) == live_before
        # table still reads
        assert table.read().count() == 400

    def test_young_orphan_survives_grace(self, spark, table, tmp_path):
        data_dir = os.path.join(str(tmp_path / "lake"), "data")
        orphan = os.path.join(data_dir, "v9999")
        os.makedirs(orphan)  # fresh mtime = an in-flight commit
        out = table.remove_orphans(grace_seconds=3600)
        assert out == {"removed": [], "kept_young": 1}
        assert os.path.isdir(orphan)
        shutil.rmtree(orphan)

    def test_branch_referenced_version_is_not_orphan(self, spark, table, tmp_path):
        # stage a WAP write on a branch: its data version is referenced only
        # by the branch manifest, and must survive vacuum
        staging = table.create_branch("audit")
        upd = spark.createDataFrame(
            [("repo-0", "f0.py", 50_000, False, "staged")],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        staging.merge(upd, epoch_id=99)
        data_dir = os.path.join(str(tmp_path / "lake"), "data")
        for name in os.listdir(data_dir):  # age everything past the grace
            p = os.path.join(data_dir, name)
            os.utime(p, (0, 0))
        out = table.remove_orphans(grace_seconds=3600)
        assert out["removed"] == []
        assert staging.read().filter(F.col("content") == "staged").count() == 1


class TestSortedCompaction:
    def test_sort_order_clusters_rows(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq

        root = str(tmp_path / "lake2")
        t = LakeTable.create(spark, root, key_columns=["repo", "path"], num_buckets=4)
        # two merge-on-read epochs with interleaved LSNs -> unsorted deltas
        for e, lo in enumerate((0, 1)):
            src = spark.range(200).select(
                F.concat(F.lit("r"), (F.col("id") % 5).cast("string")).alias("repo"),
                F.concat(F.lit("f"), (2 * F.col("id") + lo).cast("string")).alias("path"),
                (F.shiftleft(F.col("id") % 50, 1) + lo).alias("_lsn"),
                F.lit(False).alias("_tombstone"),
                F.lit("x").alias("content"),
            )
            t.merge(src, epoch_id=e, mode="defer")
        assert t.manifest().get("deltas")
        n = t.compact(sort_by=["_lsn"])
        assert n > 0
        m = t.manifest()
        assert m["summary"]["sort_order"] == ["_lsn"]
        assert m.get("deltas", {}) == {}
        # every rewritten bucket file holds its rows in _lsn order: parquet
        # preserves row order, so row-group min/max on _lsn are disjoint and
        # a pushed-down range predicate skips whole row groups
        vdir = os.path.join(root, "data", f"v{m['version']}")
        files = glob.glob(os.path.join(vdir, "_bucket=*", "*.parquet"))
        assert files
        for f in files:
            lsns = pq.read_table(f, columns=["_lsn"]).column("_lsn").to_pylist()
            assert lsns == sorted(lsns), f
        # content identical to what the unsorted read said before compaction
        assert t.read().count() == 400


class TestDescribe:
    def test_metadata_only_report(self, spark, table):
        d = table.describe()
        assert d["physical_rows"] == 400
        assert d["num_buckets"] == 16
        assert d["buckets_with_data"] == len(table.manifest()["buckets"])
        assert d["pending_delta_buckets"] == 0
        assert {"repo", "path", "content", "_lsn"} <= set(d["columns"])
        assert d["streams"] == {"default": 0}
        assert d["rows_per_bucket"]["max"] >= d["rows_per_bucket"]["median"] > 0
        assert d["rows_per_bucket"]["skew_max_over_median"] >= 1.0

    def test_counts_markers_and_deltas(self, spark, table):
        import pyspark.sql.functions as F2

        tomb = spark.createDataFrame(
            [("repo-3", "ghost.py", 10_000, True, None)],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        table.merge(tomb, epoch_id=1, mode="defer")
        d = table.describe()
        assert d["pending_delta_buckets"] == 1
        # physical rows include the marker delta row
        assert d["physical_rows"] == 401
        assert table.read().count() == 400  # live view unchanged (marker hidden)
        _ = F2  # silence unused warning path


class TestTimeBasedExpiry:
    def _set_commit_ts(self, root, ts_by_version):
        import json as js

        mdir = os.path.join(root, "manifests")
        for name in os.listdir(mdir):
            v = int(name[1:-5])
            if v in ts_by_version:
                p = os.path.join(mdir, name)
                m = js.load(open(p))
                m.setdefault("summary", {})["committed_at_ms"] = ts_by_version[v]
                js.dump(m, open(p, "w"))

    def test_age_guard_widens_retention(self, spark, table, tmp_path):
        root = str(tmp_path / "lake")
        # three more snapshots -> versions beyond keep_last=1
        for e in (1, 2, 3):
            src = spark.createDataFrame(
                [(f"repo-{e}", "fresh.py", 1000 + e, False, "x")],
                "repo string, path string, _lsn long, _tombstone boolean, content string",
            )
            table.merge(src, epoch_id=e)
        versions = sorted(
            int(n[1:-5]) for n in os.listdir(os.path.join(root, "manifests"))
        )
        # stamp strictly increasing commit times, then cut between the middle two
        self._set_commit_ts(root, {v: (i + 1) * 1000 for i, v in enumerate(versions)})
        cutoff = (len(versions) - 1) * 1000  # second-newest's timestamp
        out = table.expire_snapshots(keep_last=1, older_than_ms=cutoff)
        left = sorted(
            int(n[1:-5]) for n in os.listdir(os.path.join(root, "manifests"))
        )
        # newest (keep_last) + every manifest with ts >= cutoff survive
        assert left == versions[-2:]
        assert out["manifests_removed"] == len(versions) - 2
        # a far-future cutoff degrades to pure keep_last
        out2 = table.expire_snapshots(
            keep_last=1, older_than_ms=10 ** 15
        )
        left2 = sorted(
            int(n[1:-5]) for n in os.listdir(os.path.join(root, "manifests"))
        )
        assert left2 == versions[-1:]
        assert out2["manifests_removed"] == 1
        assert table.read().count() > 0


class TestMultiStreamFanIn:
    def test_independent_epoch_guards(self, spark, tmp_path):
        """Two source streams (topic fan-in) into ONE table: each stream_id
        keeps its own epoch ledger, so a replayed epoch of stream A skips
        without blocking stream B, and lineage stays per stream."""
        root = str(tmp_path / "fanin")
        t = LakeTable.create(spark, root, key_columns=["repo", "path"], num_buckets=8)

        def src(prefix, lsn, content):
            return spark.createDataFrame(
                [(f"{prefix}/r", "f.py", lsn, False, content)],
                "repo string, path string, _lsn long, _tombstone boolean, content string",
            )

        a0 = t.merge(src("a", 1, "a-v1"), epoch_id=0, stream_id="topic_a")
        b0 = t.merge(src("b", 1, "b-v1"), epoch_id=0, stream_id="topic_b")
        a1 = t.merge(src("a", 2, "a-v2"), epoch_id=1, stream_id="topic_a")
        assert not a0.skipped and not b0.skipped and not a1.skipped

        # replaying A's epoch 1 skips; B's NEXT epoch still applies
        a1r = t.merge(src("a", 99, "bogus"), epoch_id=1, stream_id="topic_a")
        b1 = t.merge(src("b", 2, "b-v2"), epoch_id=1, stream_id="topic_b")
        assert a1r.skipped and not b1.skipped

        assert t.last_epoch("topic_a") == 1
        assert t.last_epoch("topic_b") == 1
        state = {
            (r["repo"], r["path"]): r["content"] for r in t.read().collect()
        }
        assert state == {("a/r", "f.py"): "a-v2", ("b/r", "f.py"): "b-v2"}
        assert t.describe()["streams"] == {"topic_a": 1, "topic_b": 1}


class TestOptimisticCommit:
    def test_stale_commit_raises(self, spark, table):
        from kafka_connect_plugins_spark.plans.lake_table import CommitConflictError

        stale = dict(table.manifest())  # operation prepared against this head
        # another writer advances the ref meanwhile
        src = spark.createDataFrame(
            [("repo-0", "new.py", 9000, False, "x")],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        table.merge(src, epoch_id=1)
        head = table.manifest()["version"]
        with pytest.raises(CommitConflictError, match="advanced"):
            table._write_manifest({
                **stale,
                "version": table._next_version(),
                "parent": int(stale["version"]),
            })
        # the winner's commit is intact
        assert table.manifest()["version"] == head
        assert table.read().filter(F.col("path") == "new.py").count() == 1

    def test_sequential_ops_unaffected(self, spark, table):
        # the guard only bites on a real race: a normal maintenance chain
        # (merge -> update -> delete -> compact) commits cleanly
        table.update_where(F.col("repo") == "repo-1", {"content": F.lit("u")})
        table.delete_where(F.col("repo") == "repo-2")
        assert table.read().filter(F.col("repo") == "repo-2").count() == 0


class TestHistory:
    def test_snapshot_log(self, spark, table):
        src = spark.createDataFrame(
            [("repo-0", "new.py", 9000, False, "x")],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        table.merge(src, epoch_id=4, stream_id="s2", mode="defer")
        table.update_where(F.col("repo") == "repo-1", {"content": F.lit("u")})
        table.delete_where(F.col("repo") == "repo-2")
        h = table.history()
        assert [e["version"] for e in h] == sorted(
            (e["version"] for e in h), reverse=True
        )
        ops = [e["summary"].get("op") for e in h]
        assert ops[0] == "delete_where" and ops[1] == "update_where"
        assert h[0]["parent"] == h[1]["version"]
        # epoch merges record their stream and epoch, in both modes
        merges = [
            (e["summary"]["stream_id"], e["summary"]["epoch_id"],
             e["summary"].get("mode", "rewrite"))
            for e in h[2:4]
        ]
        assert merges == [("s2", 4, "defer"), ("default", 0, "rewrite")]
        assert all(
            e["committed_at_ms"] is None or e["committed_at_ms"] > 0 for e in h
        )


class TestMergeInto:
    @staticmethod
    def _stage_marker(spark, table):
        tomb = spark.createDataFrame(
            [("repo-0", "f0.py", 10_000, True, None)],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        table.merge(tomb, epoch_id=1)

    @staticmethod
    def _source(spark):
        # op is conditions-only (not a table column); content maps in
        return spark.createDataFrame(
            [
                ("repo-0", "f0.py", "upsert", "resurrected"),   # insert over marker
                ("repo-1", "f1.py", "upsert", "patched"),       # matched update
                ("repo-2", "f2.py", "delete", None),            # matched delete
                ("repo-9", "brand-new.py", "upsert", "fresh"),  # plain insert
                ("repo-9", "ghost.py", "delete", None),         # not matched + delete op: no-op
            ],
            "repo string, path string, op string, content string",
        )

    def _run(self, spark, table):
        return table.merge_into(
            self._source(spark),
            matched_update={"content": F.col("src.content")},
            matched_update_condition=F.col("src.op") == "upsert",
            matched_delete_condition=F.col("src.op") == "delete",
            not_matched_condition=F.col("src.op") == "upsert",
        )

    def test_clause_semantics(self, spark, table):
        self._stage_marker(spark, table)
        assert table.read().count() == 399  # marker hides repo-0/f0.py
        out = self._run(spark, table)
        assert out["rows_updated"] == 1
        assert out["rows_deleted"] == 1
        assert out["rows_inserted"] == 2
        state = {
            (r["repo"], r["path"]): (r["content"], r["_lsn"])
            for r in table.read().filter(
                F.col("path").isin("f0.py", "f1.py", "f2.py", "brand-new.py")
            ).collect()
        }
        # update keeps the row's _lsn; marker replacement adopts the marker's
        assert state[("repo-1", "f1.py")] == ("patched", 1)
        assert state[("repo-0", "f0.py")] == ("resurrected", 10_000)
        assert state[("repo-9", "brand-new.py")] == ("fresh", 0)
        assert ("repo-2", "f2.py") not in state
        assert table.read().count() == 400  # 399 - 1 deleted + 2 inserted

    def test_marker_shield_survives_insert(self, spark, table):
        self._stage_marker(spark, table)
        self._run(spark, table)
        # a late at-least-once replay BELOW the marker's LSN must still lose
        late = spark.createDataFrame(
            [("repo-0", "f0.py", 5_000, False, "stale-replay")],
            "repo string, path string, _lsn long, _tombstone boolean, content string",
        )
        table.merge(late, epoch_id=2)
        row = table.read().filter(
            (F.col("repo") == "repo-0") & (F.col("path") == "f0.py")
        ).collect()[0]
        assert row["content"] == "resurrected" and row["_lsn"] == 10_000

    def test_only_dirty_buckets_rewritten(self, spark, table):
        m0 = table.manifest()
        out = self._run(spark, table)
        m1 = table.manifest()
        changed = [
            b for b in set(m0["buckets"]) | set(m1["buckets"])
            if m1["buckets"].get(b) != m0["buckets"].get(b)
        ]
        assert 1 <= len(changed) == out["buckets_rewritten"] < len(m0["buckets"])

    def test_noop_commits_nothing(self, spark, table):
        v0 = table.manifest()["version"]
        out = table.merge_into(
            self._source(spark).filter(F.col("path") == "ghost.py"),
            matched_delete_condition=F.col("src.op") == "delete",
            not_matched_condition=F.col("src.op") == "upsert",
        )
        assert out == {"op": "merge_into", "rows_updated": 0,
                       "rows_deleted": 0, "rows_inserted": 0,
                       "buckets_rewritten": 0}
        assert table.manifest()["version"] == v0

    def test_ambiguous_source_raises(self, spark, table):
        dup = self._source(spark).unionAll(
            self._source(spark).filter(F.col("path") == "f1.py")
        )
        with pytest.raises(ValueError, match="ambiguous"):
            table.merge_into(dup, matched_update={"content": F.col("src.content")})

    def test_forbidden_assignments_raise(self, spark, table):
        with pytest.raises(ValueError, match="bookkeeping"):
            table.merge_into(
                self._source(spark), matched_update={"_lsn": F.lit(1)}
            )


class TestStateDigest:
    def test_invariant_to_replay_shape(self, spark, table, tmp_path):
        # same log, different epoch split and parallelism -> same digest
        src = spark.range(400).select(
            F.concat(F.lit("repo-"), (F.col("id") % 20).cast("string")).alias("repo"),
            F.concat(F.lit("f"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
            F.col("id").alias("_lsn"),
            F.lit(False).alias("_tombstone"),
            F.concat(F.lit("content-"), F.col("id").cast("string")).alias("content"),
        ).repartition(7)
        other = LakeTable.create(
            spark, str(tmp_path / "other"), key_columns=["repo", "path"],
            num_buckets=4,  # different physical layout too
        )
        other.merge(src.filter(F.col("_lsn") < 123), epoch_id=0)
        other.merge(src.filter(F.col("_lsn") >= 123), epoch_id=1)
        assert other.state_digest() == table.state_digest()

    def test_mutation_changes_and_time_travel_restores(self, spark, table):
        v0 = table.manifest()["version"]
        d0 = table.state_digest()
        table.delete_where(F.col("repo") == "repo-3")
        assert table.state_digest() != d0
        assert table.state_digest(version=v0) == d0


class TestMergeIntoKeyTypeCast:
    """Source keys typed differently from the table's key columns must be
    cast to the TABLE's types before bucket hashing: xxhash64(int 7),
    xxhash64(long 7) and xxhash64('7') are three different hashes, so an
    uncast source would route the key to the wrong bucket and insert a
    silent duplicate instead of updating."""

    def test_string_source_key_updates_long_key_table(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "typed"), key_columns=["id"], num_buckets=8
        )
        base = spark.range(50).select(
            F.col("id"),
            F.col("id").alias("_lsn"),
            F.lit(False).alias("_tombstone"),
            F.lit("old").alias("content"),
        )
        t.merge(base, epoch_id=0)
        src = spark.createDataFrame(
            [("7", "new"), ("999", "fresh")], "id string, content string"
        )
        out = t.merge_into(
            src,
            matched_update={"content": F.col("src.content")},
            not_matched_insert=True,
        )
        assert out["rows_updated"] == 1 and out["rows_inserted"] == 1
        state = {r["id"]: r["content"] for r in t.read().collect()}
        assert len(state) == 51          # no duplicate id=7
        assert state[7] == "new" and state[999] == "fresh"


class TestZorderCompaction:
    def _matched_groups(self, root, version, cols, hi):
        """(matching, total) row groups whose [min,max] stats intersect the
        box ``col <= hi`` per listed column (mins are >= 0 by construction,
        so intersection reduces to min <= hi)."""
        import glob

        import pyarrow.parquet as pq

        vdir = os.path.join(root, "data", f"v{version}")
        files = glob.glob(os.path.join(vdir, "_bucket=*", "*.parquet"))
        assert files
        tot = hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                tot += 1
                stats = [md.row_group(rg).column(idx[c]).statistics for c in cols]
                if all(s.min <= hi for s in stats):
                    hit += 1
        return hit, tot

    def test_zorder_beats_lexicographic_on_the_second_dim(self, spark, tmp_path):
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        old_block = hconf.get("parquet.block.size")
        hconf.setInt("parquet.block.size", 64 * 1024)
        try:
            root = str(tmp_path / "zlake")
            t = LakeTable.create(spark, root, key_columns=["id"], num_buckets=2)
            for e in range(2):  # defer mode leaves deltas for the sort pass
                src = spark.range(e * 20_000, (e + 1) * 20_000).select(
                    F.col("id"),
                    F.col("id").alias("_lsn"),
                    F.lit(False).alias("_tombstone"),
                    F.pmod(F.xxhash64(F.col("id")), F.lit(1000)).alias("x"),
                    F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(1000)).alias("y"),
                )
                t.merge(src, epoch_id=e, mode="defer")
            d0 = t.state_digest()

            assert t.compact(sort_by=["x"]) > 0
            sort_hit, sort_tot = self._matched_groups(
                root, t.manifest()["version"], ["x", "y"], 100
            )
            assert t.state_digest() == d0

            # z-order is a re-cluster: it must rewrite even with NO deltas
            assert t.manifest().get("deltas", {}) == {}
            assert t.compact(zorder_by=["x", "y"]) > 0
            m = t.manifest()
            assert m["summary"]["zorder"] == ["x", "y"]
            z_hit, z_tot = self._matched_groups(root, m["version"], ["x", "y"], 100)
            assert t.state_digest() == d0

            # enough row groups that skipping is observable, and the box
            # predicate on (x, y) prunes strictly better than sort-by-x
            # (whose y stats are full-range in every group)
            assert z_tot >= 8 and sort_tot >= 8
            assert z_hit / z_tot < sort_hit / sort_tot
        finally:
            if old_block is None:
                hconf.unset("parquet.block.size")
            else:
                hconf.set("parquet.block.size", old_block)

    def test_zorder_handles_strings_and_nulls(self, spark, tmp_path):
        root = str(tmp_path / "zstr")
        t = LakeTable.create(spark, root, key_columns=["id"], num_buckets=2)
        src = spark.range(500).select(
            F.col("id"),
            F.col("id").alias("_lsn"),
            F.lit(False).alias("_tombstone"),
            F.when(F.col("id") % 7 != 0,
                   F.concat(F.lit("w"), (F.col("id") % 40).cast("string"))
                   ).alias("word"),
            (F.col("id") % 13).alias("x"),
        )
        t.merge(src, epoch_id=0)
        d0 = t.state_digest()
        assert t.compact(zorder_by=["word", "x"]) > 0
        assert t.state_digest() == d0
        assert t.manifest()["summary"]["zorder"] == ["word", "x"]

    def test_sort_and_zorder_are_exclusive(self, spark, table):
        with pytest.raises(ValueError, match="exclusive"):
            table.compact(sort_by=["_lsn"], zorder_by=["_lsn"])
