"""Snapshot-versioned, hash-bucketed lake table with MERGE upsert.

The reference's sinks are external upsert-by-key stores (JDBC upsert,
ClickHouse ReplacingMergeTree, Redshift — see
ClickHouseFlattenTransformer.kt:18-57 and README.md:113-151); the north rule
requires key-partitioned MERGE upserts into an Iceberg table with
exactly-once epoch guards. This container has no Iceberg runtime jar, so the
table format is implemented here with the same architectural properties
Iceberg provides — on a real cluster the ``MergeSink`` swaps to
``MERGE INTO`` against a genuine Iceberg catalog (see ``iceberg_merge_sql``).

Layout::

    <root>/
      manifests/v{N}.json   snapshot N: bucket -> data version, epochs, schema
      _CURRENT              atomic pointer (tmp + os.replace)
      data/v{N}/_bucket=B/  parquet for bucket B, rewritten at snapshot N

Scale properties (the reasons for each design choice):

- **Key bucketing**: every row lives in bucket ``pmod(xxhash64(repo,path), n)``.
  MERGE joins source and target *per bucket* — both sides arrive
  hash-partitioned on the same key space, so the combine is a co-located
  aggregation, never a broadcast or a full-table sort-merge join.
- **Dirty-bucket pruning**: a microbatch touches only the buckets its keys
  hash to; clean buckets are carried forward by manifest reference. Merge
  I/O is proportional to the touched key space, not table size — the lake
  analogue of Iceberg merge-on-read file pruning.
- **Snapshot isolation**: readers resolve ``_CURRENT`` once and read an
  immutable file set; a crashed merge leaves only unreferenced garbage,
  never a torn table.
- **Exactly-once**: each merge records ``(stream_id, epoch_id)`` inside the
  manifest it commits — the same atomic unit as the data pointer swap, which
  is precisely Iceberg's snapshot-summary epoch pattern. Replaying a
  committed epoch is a no-op.
- **Schema evolution**: the manifest carries the table schema; new nullable
  payload fields widen it (union-by-field-presence, the Avro resolution
  semantics of the reference's v1/v2 fixtures — SURVEY.md §1.3); old files
  are back-filled with nulls at read time.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LSN_COL = "_lsn"
TOMBSTONE_COL = "_tombstone"
BUCKET_COL = "_bucket"
_RESERVED = {LSN_COL, TOMBSTONE_COL, BUCKET_COL}


def _contains_map_type(dt: T.DataType) -> bool:
    """True when ``dt`` contains a MapType anywhere — such columns are not
    null-safe-comparable in Spark (``EqualNullSafe`` rejects map ordering),
    so equality checks on them must go through a serialized form."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map_type(f_.dataType) for f_ in dt.fields)
    return False
# The equal-LSN tiebreak packs lsn*2+src into one long (see merge()); LSNs at
# or above 2**62 would overflow the packing silently.
_LSN_DOMAIN_MAX = 1 << 62


@dataclass
class MergeStats:
    epoch_id: int | None
    skipped: bool
    source_rows: int = 0
    dirty_buckets: int = 0
    total_buckets: int = 0
    # Distinct keys upserted this epoch (the winner set; in defer mode this
    # is exactly the delta rows appended).
    rows_written: int = 0
    schema_added_columns: list[str] = field(default_factory=list)
    schema_widened_columns: list[str] = field(default_factory=list)
    seconds: float = 0.0
    # Per-source-partition lineage: {partition: {"events": n, "max_lsn": m}}.
    # The CDC log-position record — filled when merge() gets lineage_col.
    lineage: dict = field(default_factory=dict)
    # Wall time per merge phase: {"stats": narrow agg + one collect,
    # "write": the data write job (includes the broadcast build),
    # "commit": manifest swap + output listing}. The driver-serial share of
    # an epoch is everything except the write job's parallel portion.
    phases: dict = field(default_factory=dict)


@dataclass
class MergePrep:
    """Source-side merge preparation, separable from the table write.

    Everything here derives from the SOURCE batch alone (normalized frame,
    narrow winner aggregation, domain guards, plan choice) — no target
    state is read and nothing is committed, so a ``MergePrep`` for epoch
    ``i+1`` can be computed CONCURRENTLY with epoch ``i``'s write+commit
    (see ``engine.replay_pipelined``): the stats phase is the part of an
    epoch that scales worst (a narrow-agg shuffle + one driver collect),
    and hiding it under the previous epoch's map-only wide write removes
    it from the critical path entirely. Safe because the epoch guard,
    schema evolution and every manifest read stay in :meth:`LakeTable.merge`.
    """

    src: DataFrame                  # normalized source (+ __h, _bucket)
    winner_counts: DataFrame        # persisted narrow agg (unpersist in merge)
    winner_keys: DataFrame          # per-key winning LSN (lazy, cache-fed)
    pre: DataFrame | None           # plan (a): hash-prefiltered source rows
    src_winners: DataFrame          # exact per-key winner rows (lazy)
    bucket_counts: list             # collected per-bucket stats rows
    lineage: dict                   # per-source-partition event counts
    n_winner_keys: int
    src_rows: int
    plan_b: bool
    user_fields: list               # non-key payload StructFields
    incoming: "T.StructType"        # schema offered for evolution
    stats_seconds: float            # wall time of the narrow agg + collect
    table_root: str                 # safety: prep is table-specific


def digest_components(df: DataFrame) -> DataFrame:
    """Order-insensitive digest components of a DataFrame's rows, as one
    aggregated row ``(n, digest_a, digest_b)``.

    Per row: sha256 over the canonical concat of every column (sorted by
    name, cast to string, NULL distinguished from '' by a ``\\x00``
    sentinel, fields joined on ``\\x1f``). The fold is addition of the
    hash's two leading 60-bit halves in decimal(38,0) — exact, overflow-
    free below ~10^20 rows, and invariant to row order, partitioning, and
    task count. Reproducible in ANSI SQL (DuckDB:
    ``('0x' || substr(sha256(...), 1, 15))::UBIGINT`` summed), which is
    what lets the correctness gate check the verification machinery
    itself. One map-only pass + a partial aggregate; no shuffle of row
    data.
    """
    cols = sorted(df.columns)
    canon = F.sha2(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in cols
            ],
        ),
        256,
    )
    return df.select(canon.alias("__h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.conv(F.substring("__h", 1, 15), 16, 10).cast("decimal(38,0)")
        ).alias("digest_a"),
        F.sum(
            F.conv(F.substring("__h", 16, 15), 16, 10).cast("decimal(38,0)")
        ).alias("digest_b"),
    )


def cdf_classify_emit(
    joined: DataFrame,
    keys: list[str],
    vals: list[str],
    o_live,
    n_live,
    differs,
    include_preimages: bool,
    extra_cols: tuple = (),
) -> DataFrame:
    """The change-data-feed classification contract, shared by
    :meth:`LakeTable.read_changes` and ``incremental_view.snapshot_diff``.

    ``joined`` is a full-outer key join with every column prefixed ``o_``
    (old snapshot) / ``n_`` (new); the callers own what "live" and
    "differs" mean (lake snapshots test LSN + tombstone, in-memory
    snapshots test existence flags). Emits ``insert`` /
    ``update_preimage`` / ``update_postimage`` / ``delete`` rows — old
    column values on the old-side types, new on the rest — and nothing
    for untouched keys. One definition so a contract change (a new change
    type, a no-op rule) cannot drift between the two feeds."""
    update_types = (
        F.array(F.lit("update_preimage"), F.lit("update_postimage"))
        if include_preimages
        else F.array(F.lit("update_postimage"))
    )
    change = (
        F.when(~o_live & n_live, F.array(F.lit("insert")))
        .when(o_live & n_live & differs, update_types)
        .when(o_live & ~n_live, F.array(F.lit("delete")))
    )
    old_side = F.col("_change_type").isin("delete", "update_preimage")
    return (
        joined.withColumn("_change_types", change)
        .filter(F.col("_change_types").isNotNull())
        .select("*", F.explode("_change_types").alias("_change_type"))
        .select(
            *[F.coalesce(F.col(f"n_{k}"), F.col(f"o_{k}")).alias(k) for k in keys],
            *[
                F.when(old_side, F.col(f"o_{c}")).otherwise(F.col(f"n_{c}")).alias(c)
                for c in vals
            ],
            F.col("_change_type"),
            *extra_cols,
        )
    )


class CommitConflictError(RuntimeError):
    """Optimistic commit lost the race: the ref advanced after this
    operation read its base snapshot. Re-read and retry (Iceberg's
    compare-and-swap commit contract)."""


class SchemaEvolutionError(TypeError):
    """Incompatible schema change (type conflict / non-additive)."""


class LakeTable:
    """A bucketed, snapshot-versioned upsert table."""

    def __init__(self, spark: SparkSession, root: str, ref: str = "main"):
        self.spark = spark
        self.root = root
        # The branch this handle commits to. "main" is the published table
        # (`_CURRENT`); any other name resolves through `_REFS.json` and is
        # the write-audit-publish staging surface (Iceberg branch analogue).
        self.ref = ref

    # ------------------------------------------------------------------
    # creation / manifest plumbing
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        key_columns: list[str],
        num_buckets: int = 64,
        schema: T.StructType | None = None,
        bloom_keys: bool = True,
    ) -> "LakeTable":
        if os.path.exists(os.path.join(root, "_CURRENT")):
            raise FileExistsError(f"table already exists at {root}")
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        table = cls(spark, root)
        manifest = {
            "version": 0,
            "key_columns": list(key_columns),
            "num_buckets": int(num_buckets),
            "buckets": {},  # bucket id (str) -> data version (int)
            "epochs": {},  # stream id -> last committed epoch
            # parquet bloom filters on key columns (see _bucket_writer)
            "bloom_keys": bool(bloom_keys),
            "schema": json.loads(schema.json()) if schema is not None else None,
            "summary": {"created_at_ms": int(time.time() * 1000)},
        }
        table._write_manifest(manifest)
        return table

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        if not os.path.exists(os.path.join(root, "_CURRENT")):
            raise FileNotFoundError(f"no lake table at {root}")
        return cls(spark, root)

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self._head_version()
        with open(os.path.join(self.root, "manifests", f"v{version}.json")) as f:
            return json.load(f)

    def _head_version(self, ref: str | None = None) -> int:
        """Resolve a ref name (default: this handle's branch) to a version."""
        ref = self.ref if ref is None else ref
        if ref == "main":
            with open(os.path.join(self.root, "_CURRENT")) as f:
                return int(f.read().strip())
        refs = self.refs()
        if ref in refs["branches"]:
            return int(refs["branches"][ref])
        if ref in refs["tags"]:
            return int(refs["tags"][ref])
        raise KeyError(f"no branch or tag named {ref!r}")

    def _next_version(self) -> int:
        """Allocate the next snapshot version: 1 + the max manifest on disk.

        Equals head+1 on a linear history; with branches it keeps every
        manifest file and ``data/v{N}`` dir globally unique even when two
        branches commit interleaved. Single-writer-per-branch is assumed
        (the same contract `_CURRENT` already carries).
        """
        mdir = os.path.join(self.root, "manifests")
        return 1 + max(
            int(name[1:-5])
            for name in os.listdir(mdir)
            if name.startswith("v") and name.endswith(".json")
        )

    def _write_manifest(self, manifest: dict) -> None:
        version = manifest["version"]
        # Optimistic concurrency (Iceberg's compare-and-swap commit): the
        # snapshot was prepared against its ``parent``; if the ref moved on
        # since — a CLI maintenance op racing a live ingest is the real
        # case — fail loudly instead of silently orphaning the other
        # writer's commit. The loser re-reads and retries; the abandoned
        # data dir is ``remove_orphans`` food. Root-snapshot commits
        # (parent None) skip the check.
        parent = manifest.get("parent")
        if parent is not None:
            head = self._head_version(self.ref)
            if int(head) != int(parent):
                raise CommitConflictError(
                    f"ref {self.ref!r} advanced to v{head} while this "
                    f"operation was prepared against v{parent}; re-read "
                    f"and retry (abandoned data dir v{version} will be "
                    f"vacuumed by remove_orphans)"
                )
        path = os.path.join(self.root, "manifests", f"v{version}.json")
        # tmp + replace: a crash mid-write must not leave a TORN manifest —
        # it would never publish (the `_CURRENT` swap below is the commit
        # point), but maintenance walks every manifest file on disk
        # (`remove_orphans`, `_next_version`), and one truncated JSON would
        # poison those walks permanently. The `.tmp.<uuid>` suffix keeps the
        # in-flight file outside their `v*.json` filter.
        mtmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(mtmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(mtmp, path)
        # Atomic pointer swap — the commit point (Iceberg's version-hint
        # swap). A non-main handle advances its branch ref instead of the
        # published pointer: staged commits are invisible to main readers.
        if self.ref == "main":
            tmp = os.path.join(self.root, f"_CURRENT.tmp.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(str(version))
            os.replace(tmp, os.path.join(self.root, "_CURRENT"))
        else:
            refs = self.refs()
            if self.ref not in refs["branches"]:
                raise KeyError(
                    f"branch {self.ref!r} does not exist (create_branch first)"
                )
            refs["branches"][self.ref] = int(version)
            self._write_refs(refs)

    def _commit(
        self, manifest: dict, version: int, summary: dict,
        out_dir: str | None = None, **changes,
    ) -> dict:
        """Commit snapshot ``version``: ``manifest`` with ``changes`` applied,
        parented on ``manifest`` unless ``changes`` names another ``parent``,
        ``summary`` stamped with the commit time, and the footer stats of
        any data written to ``out_dir``. Every operation commits through
        here. Returns the committed manifest."""
        new = {
            **manifest,
            "version": int(version),
            "parent": int(manifest["version"]),
            **changes,
            "summary": {"committed_at_ms": int(time.time() * 1000), **summary},
        }
        if out_dir is not None:
            new = self._with_file_stats(new, out_dir)
        self._write_manifest(new)
        return new

    # ------------------------------------------------------------------
    # refs: tags, branches, write-audit-publish
    # ------------------------------------------------------------------
    def refs(self) -> dict:
        """``{"branches": {name: version}, "tags": {name: version}}``."""
        path = os.path.join(self.root, "_REFS.json")
        if not os.path.exists(path):
            return {"branches": {}, "tags": {}}
        with open(path) as f:
            return json.load(f)

    def _write_refs(self, refs: dict) -> None:
        tmp = os.path.join(self.root, f"_REFS.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.root, "_REFS.json"))

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Immutable named snapshot pointer (Iceberg tag analogue)."""
        refs = self.refs()
        if name in refs["tags"] or name in refs["branches"] or name == "main":
            raise ValueError(f"ref {name!r} already exists")
        version = self._head_version() if version is None else int(version)
        self.manifest(version)  # existence check
        refs["tags"][name] = version
        self._write_refs(refs)
        return version

    def create_branch(self, name: str, version: int | None = None) -> "LakeTable":
        """Fork a mutable branch at ``version`` (default: this head) and
        return a handle bound to it.

        The branch carries the fork point's full manifest state — schema,
        bucket map AND epoch guards — so staged ingest keeps exactly-once
        semantics, and :meth:`publish` fast-forwards all of it onto main
        atomically. This is the write-audit-publish pattern: ingest to a
        branch, audit the staged snapshot, publish (or drop) it.
        """
        refs = self.refs()
        if name in refs["tags"] or name in refs["branches"] or name == "main":
            raise ValueError(f"ref {name!r} already exists")
        version = self._head_version() if version is None else int(version)
        self.manifest(version)  # existence check
        refs["branches"][name] = version
        self._write_refs(refs)
        return LakeTable(self.spark, self.root, ref=name)

    def checkout(self, ref: str = "main") -> "LakeTable":
        """A handle bound to an existing branch (or back to main)."""
        if ref != "main":
            refs = self.refs()
            if ref not in refs["branches"]:
                raise KeyError(f"no branch named {ref!r}")
        return LakeTable(self.spark, self.root, ref=ref)

    def drop_ref(self, name: str) -> None:
        refs = self.refs()
        if name in refs["branches"]:
            del refs["branches"][name]
        elif name in refs["tags"]:
            del refs["tags"][name]
        else:
            raise KeyError(f"no branch or tag named {name!r}")
        self._write_refs(refs)

    def _ancestry(self, version: int) -> list[int]:
        """Versions from ``version`` back to the root, following ``parent``
        (manifests predating parent tracking fall back to version-1)."""
        chain = []
        v: int | None = version
        while v is not None and v >= 0:
            chain.append(v)
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # expired tail — ancestry ends at the retention horizon
            v = m.get("parent", v - 1 if v > 0 else None)
        return chain

    def publish(self, branch: str, drop: bool = True) -> int:
        """Fast-forward main to a branch head (the WAP publish step).

        Requires main's current version to be an ancestor of the branch head
        — i.e. nothing was committed to main since the fork. A diverged
        main raises instead of silently dropping its commits (no rebase
        machinery; re-fork and re-stage instead). Returns the published
        version. Atomic: one `_CURRENT` swap.
        """
        refs = self.refs()
        if branch not in refs["branches"]:
            raise KeyError(f"no branch named {branch!r}")
        head = int(refs["branches"][branch])
        main_v = self._head_version("main")
        if main_v not in self._ancestry(head):
            raise ValueError(
                f"main (v{main_v}) diverged from branch {branch!r} fork "
                f"point; refusing to fast-forward to v{head}"
            )
        tmp = os.path.join(self.root, f"_CURRENT.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(head))
        os.replace(tmp, os.path.join(self.root, "_CURRENT"))
        if drop:
            refs = self.refs()
            refs["branches"].pop(branch, None)
            self._write_refs(refs)
        return head

    def rollback(self, version: int) -> int:
        """Roll the table back to ``version`` as a NEW commit (Iceberg's
        ``rollback_to_snapshot``): the head moves FORWARD to a snapshot
        whose state equals the target, history is preserved (the undone
        snapshots stay readable by version), and no data file is touched —
        the new manifest simply references the target's files. The epoch
        ledger reverts with the rest of the state, so epochs committed
        after the target re-apply on replay instead of being skipped: the
        exactly-once guard and rollback compose (un-apply then re-ingest).
        The target must be an ancestor of this ref's head — rolling back
        "to" an unrelated branch snapshot is refused. Returns the committed
        version.
        """
        head_manifest = self.manifest()
        head_v = int(head_manifest["version"])
        version = int(version)
        if version == head_v:
            return head_v
        if version not in self._ancestry(head_v):
            raise ValueError(
                f"v{version} is not an ancestor of {self.ref!r} head "
                f"v{head_v}; cannot roll back across branches"
            )
        return self._commit(
            self.manifest(version),
            self._next_version(),
            {"rolled_back_to": version},
            parent=head_v,
        )["version"]

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def _table_schema(self, manifest: dict) -> T.StructType | None:
        if manifest["schema"] is None:
            return None
        return T.StructType.fromJson(manifest["schema"])

    # ------------------------------------------------------------------
    # file-level column statistics (manifest data skipping)
    # ------------------------------------------------------------------
    @staticmethod
    def _bucket_dirs(out_dir: str) -> dict[int, str]:
        """``{bucket: path}`` of the ``_bucket=B`` dirs a write left in
        ``out_dir`` (empty when nothing was written). A bucket whose rows
        all went away has no dir."""
        prefix = f"{BUCKET_COL}="
        if not os.path.isdir(out_dir):
            return {}
        return {
            int(name[len(prefix):]): os.path.join(out_dir, name)
            for name in sorted(os.listdir(out_dir))
            if name.startswith(prefix)
        }

    @staticmethod
    def _footer_stats(out_dir: str) -> dict:
        """Per-bucket column ``[min, max]`` bounds for a freshly written
        ``data/v{N}`` dir, read from parquet FOOTERS only — no data pages
        are touched, so stats collection costs O(files) metadata reads, not
        a second scan (Iceberg collects the same bounds from the writers;
        at cluster scale this loop becomes a tiny Spark job over paths).

        Only top-level int/float/str/bool columns are kept (the types whose
        bounds round-trip JSON exactly); a column missing min/max in any
        row group is dropped for that bucket — absent stats always mean
        "may match", never "matches nothing". Parquet truncates long binary
        bounds but keeps them valid (min' <= min, max' >= max), so pruning
        on string bounds stays conservative. Each bucket also records its
        row count under ``__rows``.

        pyarrow is OPTIONAL: it ships with this container and with
        ``pip install pyspark[sql]``, but not with a bare pyspark install.
        Stats are a pruning accelerator, never a correctness input, so a
        driver without pyarrow commits manifests with no ``file_stats``
        block — every read degrades to "may match" (full bucket set) and
        every write API keeps working.
        """
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return {}

        out: dict[str, dict] = {}
        for b, bdir in LakeTable._bucket_dirs(out_dir).items():
            agg: dict[str, list | None] = {}
            rows = 0
            for fn in sorted(os.listdir(bdir)):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(bdir, fn)).metadata
                rows += md.num_rows
                for rg_i in range(md.num_row_groups):
                    rg = md.row_group(rg_i)
                    for c_i in range(rg.num_columns):
                        col = rg.column(c_i)
                        path = col.path_in_schema
                        if "." in path:  # nested leaf — not prunable here
                            continue
                        st = col.statistics
                        if (
                            st is None
                            or not st.has_min_max
                            or not isinstance(st.min, (int, float, str, bool))
                            or isinstance(st.min, bool) != isinstance(st.max, bool)
                        ):
                            agg[path] = None  # poisoned: unknown for bucket
                            continue
                        cur = agg.get(path, ...)
                        if cur is None:
                            continue
                        if cur is ...:
                            agg[path] = [st.min, st.max]
                        else:
                            cur[0] = min(cur[0], st.min)
                            cur[1] = max(cur[1], st.max)
            stats = {c: v for c, v in agg.items() if v is not None}
            stats["__rows"] = rows
            out[str(b)] = stats
        return out

    def _with_file_stats(self, new_manifest: dict, out_dir: str) -> dict:
        """Attach ``file_stats`` to a manifest about to be committed.

        ``file_stats`` maps ``"v{version}/{bucket}"`` → column bounds for
        that physical file set (Iceberg's per-data-file stats, at this
        table's bucket granularity). Entries are carried forward from the
        previous manifest for files still referenced, new entries are
        collected from ``out_dir``'s footers, and entries for files this
        snapshot no longer references are dropped — the map stays O(live
        files), never O(history).
        """
        new_version = int(new_manifest["version"])
        fresh = self._footer_stats(out_dir)
        carried = dict(new_manifest.get("file_stats", {}))
        for b, st in fresh.items():
            carried[f"v{new_version}/{b}"] = st
        live = {
            f"v{int(v)}/{b}" for b, v in new_manifest.get("buckets", {}).items()
        } | {
            f"v{int(v)}/{b}"
            for b, vs in new_manifest.get("deltas", {}).items()
            for v in vs
        }
        return {
            **new_manifest,
            "file_stats": {k: v for k, v in carried.items() if k in live},
        }

    def file_stats(self, version: int | None = None) -> dict:
        """``{"v{N}/{bucket}": {col: [min, max], "__rows": n}}`` for the
        snapshot's live files (empty for snapshots predating stats)."""
        return self.manifest(version).get("file_stats", {})

    @staticmethod
    def _stats_may_match(stats: dict | None, prune: dict) -> bool:
        """Conservative interval test: can a file with these bounds hold a
        row matching every ``col: (lo, hi)`` bound? Missing stats (old
        snapshot, poisoned column, type mismatch) always match."""
        if not stats:
            return True
        for col, (lo, hi) in prune.items():
            bounds = stats.get(col)
            if bounds is None:
                continue
            try:
                if lo is not None and bounds[1] < lo:
                    return False
                if hi is not None and bounds[0] > hi:
                    return False
            except TypeError:
                continue  # caller's bound type ≠ stored type: don't prune
        return True

    def _prune_bucket_ids(self, manifest: dict, prune: dict) -> list[int]:
        """Bucket ids whose live files might hold a matching row.

        Pruning is decided per BUCKET, not per file: under merge-on-read a
        key's winner may sit in a delta while the key also appears in the
        base, so dropping individual files of a surviving bucket could
        change LWW collapse. A bucket is skipped only when EVERY file of it
        (base + pending deltas) is provably disjoint from the bounds —
        which is exactly when no winner row can match.
        """
        fstats = manifest.get("file_stats", {})
        deltas = manifest.get("deltas", {})
        if manifest.get("column_mapping"):
            # file stats are recorded under PHYSICAL names (read straight
            # from parquet footers); callers prune on logical names
            mapping = self._column_mapping(manifest)
            prune = {mapping.get(c, c): b for c, b in prune.items()}
        keep = []
        for b in {*manifest["buckets"], *deltas}:
            pairs = []
            if b in manifest["buckets"]:
                pairs.append((int(manifest["buckets"][b]), b))
            pairs += [(int(v), b) for v in deltas.get(b, [])]
            if any(
                self._stats_may_match(fstats.get(f"v{v}/{b}"), prune)
                for v, b in pairs
            ):
                keep.append(int(b))
        return sorted(keep)

    def _read_buckets(
        self,
        manifest: dict,
        buckets: list[int] | None,
        prune: dict | None = None,
    ) -> DataFrame | None:
        """Read the current rows of the given buckets (None = all).

        Merge-on-read: buckets with pending delta files (``manifest["deltas"]``,
        written by ``merge(mode="defer")``) are collapsed here with a per-key
        LWW aggregation over base ∪ deltas, so every consumer — ``read``,
        the rewrite merge, ``read_changes``, ``purge_tombstones`` — keeps the
        one-row-per-key invariant. Delta-free reads stay scan-only.

        ``prune`` is a ``{col: (lo, hi)}`` bounds map (either end ``None``
        = unbounded): buckets whose file stats are disjoint from the bounds
        are skipped entirely — manifest-level data skipping. Callers must
        still apply the exact predicate to the surviving rows.
        """
        if prune:
            pruned = self._prune_bucket_ids(manifest, prune)
            buckets = pruned if buckets is None else sorted(
                set(buckets) & set(pruned)
            )
        assignments = manifest["buckets"]
        deltas = manifest.get("deltas", {})
        if buckets is not None:
            sel = set(buckets)
            assignments = {b: v for b, v in assignments.items() if int(b) in sel}
            deltas = {b: vs for b, vs in deltas.items() if int(b) in sel}
        # (version, bucket) pairs: the base file of each bucket + every
        # pending delta version that touched it.
        pairs = [(int(v), b) for b, v in assignments.items()]
        pairs += [(int(v), b) for b, vs in deltas.items() for v in vs]
        if not pairs:
            return None
        # Group by data version: one parquet scan per version dir with
        # basePath, so `_bucket=B` directory pruning applies and the
        # partition column survives.
        by_version: dict[int, list[str]] = {}
        for v, b in pairs:
            by_version.setdefault(v, []).append(b)
        parts = []
        for v, bs in sorted(by_version.items()):
            vdir = os.path.join(self.root, "data", f"v{v}")
            paths = [
                os.path.join(vdir, f"{BUCKET_COL}={b}")
                for b in sorted(set(bs), key=int)
            ]
            parts.append(self.spark.read.option("basePath", vdir).parquet(*paths))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        # Back-fill columns added (to THIS manifest's schema) after these
        # files were written — time-travel reads see their snapshot's schema.
        schema = self._table_schema(manifest)
        if schema is not None and (
            manifest.get("column_mapping") or manifest.get("retired_physical")
        ):
            # physical -> logical under column mapping: retired physicals
            # (dropped columns still present in old files) are projected
            # away FIRST so a re-added logical name can never collide with
            # the dropped column's lingering physical twin
            mapping = self._column_mapping(manifest)
            keep_phys = {BUCKET_COL, *_RESERVED, *mapping.values()}
            extra = [c for c in df.columns if c not in keep_phys]
            if extra:
                df = df.drop(*extra)
            ren = {p: l for l, p in mapping.items() if p != l and p in df.columns}
            if ren:
                df = df.withColumnsRenamed(ren)
        if schema is not None:
            for f_ in schema.fields:
                if f_.name not in df.columns:
                    df = df.withColumn(f_.name, F.lit(None).cast(f_.dataType))
                elif df.schema[f_.name].dataType != f_.dataType:
                    # files written before a type widening surface their
                    # narrow physical type; readers always see the manifest's
                    df = df.withColumn(f_.name, F.col(f_.name).cast(f_.dataType))
        if deltas:
            # Collapse ONLY the delta-bearing buckets; delta-free buckets in
            # the same read stay on the scan-only path (no shuffle for them).
            delta_ids = sorted(int(b) for b in deltas)
            keys = manifest["key_columns"]
            pay = [c for c in df.columns if c not in keys]
            with_deltas = df.filter(F.col(BUCKET_COL).isin(delta_ids))
            collapsed = (
                with_deltas.groupBy(*keys)
                .agg(F.max_by(F.struct(*pay), F.col(LSN_COL)).alias("__w"))
                .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in pay])
            )
            clean = df.filter(~F.col(BUCKET_COL).isin(delta_ids))
            df = clean.unionByName(collapsed.select(*clean.columns))
        return df

    def read(
        self,
        version: int | None = None,
        ref: str | None = None,
        prune: dict | None = None,
    ) -> DataFrame:
        """Snapshot read (table-schema columns: keys, payload, ``_lsn``).

        ``version`` time-travels to an earlier snapshot (Iceberg
        ``VERSION AS OF``); ``ref`` reads a named tag or branch head
        (``VERSION AS OF 'ref'``); default is this handle's branch head.
        Delete markers (retained so that a late-arriving lower-LSN insert
        can never resurrect a deleted key — see :meth:`merge`) are filtered
        here; they are physically dropped by :meth:`purge_tombstones`.

        ``prune`` is a ``{col: (lo, hi)}`` inclusive-bounds predicate
        (either end ``None`` = open). It is applied twice, the Iceberg
        scan-planning pattern: manifest file stats skip every bucket whose
        live files are provably disjoint from the bounds (the scan never
        lists or opens them), then the exact row filter runs over the
        survivors — the result equals ``read().filter(...)`` row for row,
        at the I/O cost of only the possibly-matching files. Rows with a
        NULL in a pruned column are excluded, standard range-predicate
        semantics.
        """
        if ref is not None:
            if version is not None:
                raise ValueError("pass version= or ref=, not both")
            version = self._head_version(ref)
        manifest = self.manifest(version)
        df = self._read_buckets(manifest, None, prune=prune)
        schema = self._table_schema(manifest)
        if df is None:
            if schema is None:
                raise ValueError("empty table with no schema yet")
            return self.spark.createDataFrame([], schema)
        if TOMBSTONE_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
        if prune:
            for col, (lo, hi) in prune.items():
                if lo is not None:
                    df = df.filter(F.col(col) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(col) <= F.lit(hi))
        return df.select(*[f_.name for f_ in schema.fields])

    def read_internal(self) -> DataFrame | None:
        """Current snapshot including _lsn/_bucket bookkeeping columns."""
        return self._read_buckets(self.manifest(), None)

    def lookup(
        self, keys: dict | list[dict], version: int | None = None
    ) -> DataFrame:
        """Key-pruned point read (Iceberg bucket-partition pruning).

        Each requested key hashes to exactly one bucket, so only those
        buckets' files are listed and scanned — ``O(k/num_buckets)`` of the
        table for ``k`` keys instead of a full snapshot scan. At 100 TB and
        the default 64 buckets, a single-key fetch touches ~1.6% of the
        data; real deployments size ``num_buckets`` so one bucket is a few
        GB and a lookup is sub-second. The bucket ids come from ONE tiny
        Spark job over the literal key rows (the SAME ``pmod(xxhash64(*keys),
        n)`` expression the writer uses — never a Python reimplementation
        that could drift), then directory pruning in ``_read_buckets`` does
        the skipping.

        ``keys``: one dict (or a list of dicts) mapping EVERY key column to
        a value; NULL components are legal (matched null-safely, mirroring
        ``merge``). Delete markers are filtered — a deleted key returns no
        row. ``version`` time-travels the lookup.
        """
        rows = [keys] if isinstance(keys, dict) else list(keys)
        manifest = self.manifest(version)
        key_cols = manifest["key_columns"]
        n_buckets = int(manifest["num_buckets"])
        schema = self._table_schema(manifest)
        if schema is None:
            raise ValueError("empty table with no schema yet")
        for r in rows:
            missing = [k for k in key_cols if k not in r]
            if missing:
                raise ValueError(f"lookup key missing columns: {missing}")
        key_schema = T.StructType([f_ for f_ in schema.fields if f_.name in key_cols])
        keys_df = self.spark.createDataFrame(
            [tuple(r[k] for k in key_cols) for r in rows], key_schema
        )
        bucket_rows = keys_df.select(
            F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets))
            .cast("int")
            .alias("__b")
        ).collect()
        buckets = sorted({r["__b"] for r in bucket_rows})
        df = self._read_buckets(manifest, buckets)
        if df is None:
            return self.spark.createDataFrame([], schema)
        if len(rows) == 1:
            # single key: plain (null-safe) predicates — these PUSH DOWN to
            # the parquet row-group stats inside the pruned bucket
            for k in key_cols:
                df = df.filter(F.col(k).eqNullSafe(F.lit(rows[0][k])))
        else:
            df = df.join(F.broadcast(keys_df), on=key_cols, how="left_semi")
            if any(r[k] is None for r in rows for k in key_cols):
                # semi-join ON uses plain equality; re-add null-keyed rows
                # null-safely (rare path, bounded by the request size)
                conds = None
                for r in rows:
                    c = F.lit(True)
                    for k in key_cols:
                        c = c & F.col(k).eqNullSafe(F.lit(r[k]))
                    conds = c if conds is None else (conds | c)
                base = self._read_buckets(manifest, buckets)
                df = base.filter(conds)
        if TOMBSTONE_COL in df.columns:
            df = df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
        return df.select(*[f_.name for f_ in schema.fields])

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Change data feed between two snapshots (Delta CDF / Iceberg
        changelog-scan analogue): what a downstream incremental consumer must
        apply to move from ``from_version`` to ``to_version``.

        Output = table columns + ``_change_type`` in {``insert``,
        ``update_postimage``, ``delete``} + ``_commit_version``. With
        ``include_preimages=True`` every update additionally emits an
        ``update_preimage`` row carrying the OLD column values (Delta CDF
        parity) — the shape a downstream incremental aggregator needs to
        fold updates as ``+post - pre`` (see ``plans/incremental_view.py``).
        Preimages cost nothing extra to read: the diff join already has both
        sides; the update branch just explodes to two rows. Only buckets
        whose data version differs between the two manifests are read
        (bucket-level pruning — the diff costs I/O proportional to what
        changed, not table size); within a rewritten bucket, carried-forward
        rows are recognized by unchanged ``_lsn`` AND unchanged column
        values, and emitted as no-ops (dropped). The value comparison is
        what makes LSN-preserving mutations visible: ``update_where`` and
        ``merge_into`` matched-updates keep the row's ``_lsn`` by contract,
        so an LSN-only diff would classify their rewrites as carried-forward
        and a replica applying the feed would silently diverge. Columns
        containing map types (not null-safe-comparable in Spark) compare via
        ``to_json`` — entry-order drift there can only produce a spurious
        no-op update row (idempotent for any consumer), never a missed
        change for a carried-forward row, which the rewrite preserves
        byte-for-byte. Deletes surface whether the marker row is still
        retained or already purged.
        """
        m_to = self.manifest(to_version)
        m_from = self.manifest(from_version)
        if to_version is None:
            to_version = int(m_to["version"])
        if from_version > to_version:
            raise ValueError(
                f"from_version ({from_version}) must be <= to_version "
                f"({to_version}); swapped arguments would silently invert the feed"
            )
        d_from, d_to = m_from.get("deltas", {}), m_to.get("deltas", {})
        changed = sorted(
            {
                int(b)
                for b in (
                    set(m_from["buckets"]) | set(m_to["buckets"])
                    | set(d_from) | set(d_to)
                )
                # a bucket changed if its base version OR its pending-delta
                # list differs between the two snapshots (merge-on-read)
                if m_from["buckets"].get(b) != m_to["buckets"].get(b)
                or d_from.get(b, []) != d_to.get(b, [])
            }
        )
        schema = self._table_schema(m_to)
        if schema is None:
            raise ValueError("table has no schema yet (nothing was ever merged)")
        out_fields = [f_.name for f_ in schema.fields]
        empty = self.spark.createDataFrame(
            [],
            T.StructType(
                schema.fields
                + [
                    T.StructField("_change_type", T.StringType(), False),
                    T.StructField("_commit_version", T.LongType(), False),
                ]
            ),
        )
        if not changed:
            return empty
        # key/output names are the TO snapshot's logical names; the old side
        # is translated onto them through the stable physical identity, so
        # the feed stays well-formed across renames (and columns dropped
        # between the snapshots vanish from both sides)
        keys = m_to["key_columns"]
        internal = T.StructType(
            [f_ for f_ in schema.fields]
            + [T.StructField(TOMBSTONE_COL, T.BooleanType(), True)]
        )

        def side(manifest: dict, tag: str) -> DataFrame:
            df = self._read_buckets(manifest, changed)
            if df is None:
                df = self.spark.createDataFrame([], internal)
            else:
                df = self._translate_columns(df, manifest, m_to)
            if TOMBSTONE_COL not in df.columns:
                df = df.withColumn(TOMBSTONE_COL, F.lit(False))
            for f_ in internal.fields:  # columns added after this snapshot
                if f_.name not in df.columns:
                    df = df.withColumn(f_.name, F.lit(None).cast(f_.dataType))
            return df.select(
                *[F.col(k).alias(f"{tag}_{k}") for k in keys],
                *[
                    F.col(c).alias(f"{tag}_{c}")
                    for c in [f_.name for f_ in internal.fields]
                    if c not in keys
                ],
            )

        o, n = side(m_from, "o"), side(m_to, "n")
        cond = [F.col(f"o_{k}").eqNullSafe(F.col(f"n_{k}")) for k in keys]
        joined = o.join(n, on=cond, how="full_outer")

        o_live = F.col(f"o_{LSN_COL}").isNotNull() & ~F.coalesce(
            F.col(f"o_{TOMBSTONE_COL}"), F.lit(False)
        )
        n_live = F.col(f"n_{LSN_COL}").isNotNull() & ~F.coalesce(
            F.col(f"n_{TOMBSTONE_COL}"), F.lit(False)
        )
        # carried-forward = same LSN and same values: update_where /
        # merge_into matched-updates rewrite rows WITHOUT bumping _lsn
        # (LWW ordering stays the ingest's property), so the LSN alone
        # cannot distinguish a carried row from an out-of-band mutation
        same = F.col(f"o_{LSN_COL}").eqNullSafe(F.col(f"n_{LSN_COL}"))
        for f_ in schema.fields:
            if f_.name in keys or f_.name in (LSN_COL, TOMBSTONE_COL):
                continue
            oc, nc = F.col(f"o_{f_.name}"), F.col(f"n_{f_.name}")
            if _contains_map_type(f_.dataType):
                same = same & F.to_json(oc).eqNullSafe(F.to_json(nc))
            else:
                same = same & oc.eqNullSafe(nc)
        return cdf_classify_emit(
            joined,
            keys,
            [c for c in out_fields if c not in keys],
            o_live,
            n_live,
            ~same,
            include_preimages,
            extra_cols=(
                F.lit(int(to_version)).cast("long").alias("_commit_version"),
            ),
        )

    def last_epoch(self, stream_id: str = "default") -> int:
        return int(self.manifest()["epochs"].get(stream_id, -1))

    # ------------------------------------------------------------------
    # schema evolution
    # ------------------------------------------------------------------
    def _evolve_schema(
        self, manifest: dict, incoming: T.StructType
    ) -> tuple[dict | None, list[str], list[str]]:
        """Union-by-field-presence evolution.

        Returns ``(new schema json | None, added, widened)``. Beyond
        Avro-style add-only fields, Iceberg's lossless type promotions are
        supported in both directions (``int -> long``, ``float -> double``):

        - incoming NARROWER than the table: accepted with no schema change —
          union coercion and the manifest-schema cast in ``_read_buckets``
          widen the new file's values on read;
        - incoming WIDER than the table: the table schema is widened in the
          same manifest swap as the data commit. No existing file is
          rewritten: the parquet reader up-casts old narrow pages under the
          widened read schema (verified on Spark 4), and ``_read_buckets``
          casts to the manifest schema so readers always see one type.

        Anything else (string -> int, long -> int, …) raises
        :class:`SchemaEvolutionError` — silently coercing would lose data.
        """
        widen_ok = {("integer", "long"), ("float", "double")}
        current = self._table_schema(manifest)
        if current is None:
            return (
                json.loads(incoming.json()),
                [f_.name for f_ in incoming.fields],
                [],
            )
        by_name = {f_.name: f_ for f_ in current.fields}
        added: list[str] = []
        widened: list[str] = []
        fields = list(current.fields)
        for f_ in incoming.fields:
            if f_.name in by_name:
                have = by_name[f_.name].dataType
                got = f_.dataType
                if have == got:
                    continue
                if (got.typeName(), have.typeName()) in widen_ok:
                    continue  # incoming narrower: widen on read
                if (have.typeName(), got.typeName()) in widen_ok:
                    fields = [
                        T.StructField(x.name, got, x.nullable, x.metadata)
                        if x.name == f_.name
                        else x
                        for x in fields
                    ]
                    widened.append(f_.name)
                    continue
                raise SchemaEvolutionError(
                    f"column {f_.name!r}: table has {have.simpleString()}, "
                    f"incoming batch has {got.simpleString()} — only additive "
                    f"fields and int->long / float->double promotion are supported"
                )
            else:
                # New fields arrive nullable — Avro-style add-only widening.
                fields.append(T.StructField(f_.name, f_.dataType, True, f_.metadata))
                added.append(f_.name)
        if not added and not widened:
            return None, [], []
        return json.loads(T.StructType(fields).json()), added, widened

    # ------------------------------------------------------------------
    # column mapping: rename / drop as metadata-only commits
    # ------------------------------------------------------------------
    # Delta Lake's columnMapping=name mode (Iceberg gets the same property
    # from parquet field-ids): every column has an immutable PHYSICAL name —
    # what parquet files actually store — and a LOGICAL name readers see.
    # Rename swaps the logical label on an unchanged physical column; drop
    # removes the logical mapping and retires the physical name forever (so
    # a later re-add of the same logical name can never resurrect old
    # values). Neither touches a single data file. Tables that never
    # rename/drop carry no mapping and behave byte-identically to before.

    def _column_mapping(self, manifest: dict) -> dict[str, str]:
        """``{logical: physical}`` for this snapshot's schema fields
        (identity for fields with no explicit mapping entry)."""
        schema = self._table_schema(manifest)
        if schema is None:
            return {}
        cm = manifest.get("column_mapping") or {}
        return {
            f_.name: cm.get(f_.name, {}).get("physical", f_.name)
            for f_ in schema.fields
        }

    def _materialized_mapping(self, manifest: dict) -> tuple[dict, int]:
        """Full ``{logical: {"id", "physical"}}`` for the current schema,
        materializing identity entries (id assignment is field-order,
        matching Iceberg's initial field-id assignment) for a table that
        has never renamed/dropped. Returns ``(mapping, next_free_id)``."""
        schema = self._table_schema(manifest)
        if schema is None:
            raise SchemaEvolutionError("table has no schema yet")
        cm = {k: dict(v) for k, v in (manifest.get("column_mapping") or {}).items()}
        next_id = int(manifest.get("next_column_id", 1))
        for f_ in schema.fields:
            if f_.name not in cm:
                cm[f_.name] = {"id": next_id, "physical": f_.name}
                next_id += 1
        return cm, next_id

    def _mapping_after_add(self, manifest: dict, added: list[str]) -> dict | None:
        """Manifest-key updates registering freshly added columns in the
        mapping. ``None`` when the table is identity-mapped and can stay so
        (physical == logical needs no entry). A retired physical name is
        never reused: re-adding a dropped column allocates ``{name}_c{id}``
        so old files' values stay invisible."""
        if not manifest.get("column_mapping") and not manifest.get(
            "retired_physical"
        ):
            return None
        cm, next_id = self._materialized_mapping(manifest)
        used = {e["physical"] for e in cm.values()}
        retired = set(manifest.get("retired_physical", []))
        for name in added:
            if name in cm:
                continue
            phys = name if name not in used | retired else f"{name}_c{next_id}"
            cm[name] = {"id": next_id, "physical": phys}
            used.add(phys)
            next_id += 1
        return {"column_mapping": cm, "next_column_id": next_id}

    def _translate_columns(
        self, df: DataFrame, m_from: dict, m_to: dict
    ) -> DataFrame:
        """Rename ``df``'s ``m_from``-logical columns to ``m_to``'s logical
        names through the stable physical identity; drop columns with no
        ``m_to`` counterpart (dropped between the snapshots). Engine columns
        (bucket/LSN/tombstone) pass through untouched."""
        if not (m_from.get("column_mapping") or m_to.get("column_mapping")):
            return df
        f_map = self._column_mapping(m_from)
        t_inv = {p: l for l, p in self._column_mapping(m_to).items()}
        ren: dict[str, str] = {}
        drop: list[str] = []
        for c in df.columns:
            if c in _RESERVED or c == BUCKET_COL:
                continue
            tgt = t_inv.get(f_map.get(c, c))
            if tgt is None:
                drop.append(c)
            elif tgt != c:
                ren[c] = tgt
        if drop:
            df = df.drop(*drop)
        if ren:
            df = df.withColumnsRenamed(ren)
        return df

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (``ALTER TABLE RENAME COLUMN``).

        No data file is read or written: the column keeps its id and
        physical name; only the logical label in the new manifest changes.
        Readers of EVERY snapshot see that snapshot's own names (time travel
        across the rename shows the old name on the old side, Iceberg
        semantics). Key columns may be renamed — bucketing hashes values,
        not names. Note ``state_digest`` canonicalizes by sorted column
        NAME, so a rename changes the table's digest even though no value
        changed. Returns the committed version.
        """
        manifest = self.manifest()
        schema = self._table_schema(manifest)
        if schema is None:
            raise SchemaEvolutionError("table has no schema yet")
        names = [f_.name for f_ in schema.fields]
        if old not in names:
            raise KeyError(f"no column named {old!r} (have {names})")
        if new in names:
            raise SchemaEvolutionError(f"column {new!r} already exists")
        if old in _RESERVED or new in _RESERVED or new == BUCKET_COL:
            raise SchemaEvolutionError(
                f"cannot rename engine columns or collide with {sorted(_RESERVED)}"
            )
        cm, next_id = self._materialized_mapping(manifest)
        cm[new] = cm.pop(old)
        fields = [
            T.StructField(new, f_.dataType, f_.nullable, f_.metadata)
            if f_.name == old
            else f_
            for f_ in schema.fields
        ]
        return self._commit(
            manifest,
            self._next_version(),
            {"renamed_column": {"from": old, "to": new}},
            schema=json.loads(T.StructType(fields).json()),
            column_mapping=cm,
            next_column_id=next_id,
            key_columns=[new if k == old else k for k in manifest["key_columns"]],
        )["version"]

    def drop_column(self, name: str) -> int:
        """Metadata-only column drop (``ALTER TABLE DROP COLUMN``).

        Old files keep the physical column on disk (snapshots before the
        drop still read it — and ``expire_snapshots`` + rewrites are what
        eventually reclaim the bytes, exactly Iceberg's contract); current
        readers project it away. The physical name is retired permanently:
        a later re-add of the same logical name gets a fresh physical
        column, so dropped values can never leak back. Key columns and
        engine columns cannot be dropped. Returns the committed version.
        """
        manifest = self.manifest()
        schema = self._table_schema(manifest)
        if schema is None:
            raise SchemaEvolutionError("table has no schema yet")
        if name in manifest["key_columns"]:
            raise SchemaEvolutionError(f"cannot drop key column {name!r}")
        if name in _RESERVED or name == BUCKET_COL:
            raise SchemaEvolutionError(f"cannot drop engine column {name!r}")
        names = [f_.name for f_ in schema.fields]
        if name not in names:
            raise KeyError(f"no column named {name!r} (have {names})")
        cm, next_id = self._materialized_mapping(manifest)
        entry = cm.pop(name)
        retired = list(manifest.get("retired_physical", []))
        retired.append(entry["physical"])
        fields = [f_ for f_ in schema.fields if f_.name != name]
        return self._commit(
            manifest,
            self._next_version(),
            {"dropped_column": name},
            schema=json.loads(T.StructType(fields).json()),
            column_mapping=cm,
            next_column_id=next_id,
            retired_physical=retired,
        )["version"]

    def _bucket_writer(self, df: DataFrame, manifest: dict):
        """The one parquet writer every data path uses: bucket-partitioned,
        with a parquet BLOOM FILTER on each key column.

        Inside a bucket the key columns are hash-scattered, so row-group
        min/max stats are near-useless for a point predicate (every group's
        [min,max] spans the whole key space) — a bloom filter is what lets
        :meth:`lookup` skip row groups after bucket pruning has done the
        directory-level work. Key columns only: blooming the payload (the
        wide content column) would bloat every file for a predicate shape
        the engine never pushes. parquet-mr materializes the filter only
        when a chunk falls back from dictionary encoding — low-cardinality
        chunks already carry exact membership in the dictionary page, so
        the bloom appears precisely where it pays: high-cardinality keys at
        scale. Disable per table with ``create(..., bloom_keys=False)``.
        """
        cm = manifest.get("column_mapping") or {}
        if cm:
            # logical -> physical: files always store physical names, so a
            # rename never needs a data rewrite (see rename_column)
            ren = {
                log: e["physical"]
                for log, e in cm.items()
                if e["physical"] != log and log in df.columns
            }
            if ren:
                df = df.withColumnsRenamed(ren)
        w = df.write.partitionBy(BUCKET_COL).mode("overwrite")
        if manifest.get("bloom_keys", True):
            for k in manifest["key_columns"]:
                phys = cm.get(k, {}).get("physical", k)
                w = w.option(f"parquet.bloom.filter.enabled#{phys}", "true")
        return w

    def _write_version(
        self, manifest: dict, rows: DataFrame | None
    ) -> tuple[int, str, float]:
        """Allocate the next snapshot version and write ``rows`` (if any)
        into its ``data/v{N}`` dir. Returns ``(version, out_dir, write
        seconds)``."""
        version = self._next_version()
        out_dir = os.path.join(self.root, "data", f"v{version}")
        t_w = time.time()
        if rows is not None:
            self._bucket_writer(rows, manifest).parquet(out_dir)
        return version, out_dir, round(time.time() - t_w, 3)

    def _rewrite_buckets(
        self, manifest: dict, dirty: set | list, rows: DataFrame | None,
        summary: dict, **changes,
    ) -> tuple[dict, float, float]:
        """The copy-on-write core of every data-rewriting operation: write
        ``rows`` — the new contents of the ``dirty`` buckets, clustered as
        the caller wants its files (``None``: nothing) — into one fresh data
        version, point each dirty bucket at it (or drop the bucket when the
        write left it empty), fold the dirty buckets' pending deltas (the
        caller read them delta-collapsed) and commit. Other buckets keep
        their files. Returns ``(manifest, write seconds, commit seconds)``.
        """
        version, out_dir, write_s = self._write_version(manifest, rows)
        t_c = time.time()
        dirty = {int(b) for b in dirty}
        buckets = {
            b: v for b, v in manifest["buckets"].items() if int(b) not in dirty
        }
        buckets.update({str(b): version for b in self._bucket_dirs(out_dir)})
        deltas = {
            b: list(vs)
            for b, vs in manifest.get("deltas", {}).items()
            if int(b) not in dirty
        }
        committed = self._commit(
            manifest, version, summary, out_dir,
            buckets=buckets, deltas=deltas, **changes,
        )
        return committed, write_s, round(time.time() - t_c, 3)

    def _max_files_per_dirty_bucket(self, manifest: dict, dirty: list[int]) -> int:
        """Largest parquet-file count among the dirty buckets' current dirs.

        Drives amortized compaction-on-write: the map-only merge path adds
        ~one file per bucket per epoch; once a bucket crosses the threshold
        the next merge pays one bucket-repartition to fold it back to a
        single file. Driver-side listing of <= len(dirty) directories.
        """
        worst = 0
        deltas = manifest.get("deltas", {})
        for b in dirty:
            # Pending merge-on-read delta versions are extra files a reader
            # must collapse — they count toward the bucket's file budget just
            # like base files (each delta version contributes >= 1 file).
            n = len(deltas.get(str(b), []))
            v = manifest["buckets"].get(str(b))
            if v is not None:
                bdir = os.path.join(self.root, "data", f"v{int(v)}", f"{BUCKET_COL}={b}")
                if os.path.isdir(bdir):
                    n += sum(1 for f_ in os.listdir(bdir) if f_.endswith(".parquet"))
            worst = max(worst, n)
        return worst

    # ------------------------------------------------------------------
    # MERGE
    # ------------------------------------------------------------------
    def merge_prepare(
        self,
        source: DataFrame,
        lsn_col: str = "_lsn",
        tombstone_col: str | None = "_tombstone",
        lineage_col: str | None = None,
        broadcast_key_limit: int = 2_000_000,
    ) -> MergePrep:
        """Run the SOURCE-side half of a merge: normalization, the narrow
        winner aggregation (one shuffle + ONE driver collect), LSN-domain
        guards, lineage, and the plan (a)/(b) choice.

        Nothing here reads target data or the epoch ledger and nothing is
        committed, so this is safe to run for epoch ``i+1`` concurrently
        with epoch ``i``'s :meth:`merge` — the pipelined-ingest shape
        (``engine.replay_pipelined``) that hides the stats phase, the
        worst-scaling part of an epoch, under the previous epoch's map-only
        wide write. Pass the result to ``merge(prep=...)``; the epoch guard
        and schema evolution still happen there, against the manifest as of
        apply time.
        """
        t0 = time.time()
        manifest = self.manifest()
        keys = manifest["key_columns"]
        n_buckets = manifest["num_buckets"]

        # Normalize bookkeeping columns.
        src = source.withColumn(LSN_COL, F.col(lsn_col).cast("long"))
        if lsn_col != LSN_COL:
            src = src.drop(lsn_col)
        if tombstone_col is None:
            src = src.withColumn(TOMBSTONE_COL, F.lit(False))
        elif tombstone_col != TOMBSTONE_COL:
            src = src.withColumn(TOMBSTONE_COL, F.coalesce(F.col(tombstone_col), F.lit(False)))
            src = src.drop(tombstone_col)

        user_fields = [
            f_
            for f_ in src.schema.fields
            if f_.name not in _RESERVED and f_.name not in keys and f_.name != lineage_col
        ]
        incoming = T.StructType(
            [src.schema[k] for k in keys]
            + user_fields
            + [T.StructField(LSN_COL, T.LongType(), True)]
        )

        # __h is the 64-bit key hash: it derives the bucket AND serves as the
        # cheap probe key of plan (a)'s winner prefilter (hashing/comparing
        # one long per row instead of the string key columns — measured ~2x
        # on the wide pass). It is bookkeeping only, never written.
        src = src.withColumn(
            "__h", F.xxhash64(*[F.col(k) for k in keys])
        ).withColumn(BUCKET_COL, F.pmod(F.col("__h"), F.lit(n_buckets)).cast("int"))

        # Lineage (per-source-partition event count + LSN high watermark, the
        # CDC log-position record) is folded into the winner aggregation
        # below: adding the lineage column to the narrow agg's grouping keys
        # costs nothing when a key maps to one log partition (the engine's
        # case) and avoids what used to be a SECOND full scan of the batch —
        # epochs are driver-latency-sensitive, and a whole extra scan+collect
        # per epoch is serial time 4x cores cannot shrink.
        lineage: dict = {}

        # Collapse the source to its per-key LWW winners. Two physical plans:
        #
        # (a) argmax-via-join-back (default): a NARROW aggregation over
        #     (keys, bucket, lsn) finds each key's winning LSN — parquet
        #     column pruning keeps the payload (the content column dominates
        #     the batch's bytes) out of that scan entirely. The full-width
        #     pass then keeps exactly the winning rows via a broadcast
        #     semi-join, so the wide path is MAP-ONLY: no payload byte ever
        #     crosses a shuffle and no per-update struct copy churns an agg
        #     buffer. Profiling showed the merge's heavy stage is
        #     DRAM-bandwidth-bound at high core counts (per-task CPU triples
        #     with stall cycles at 32 concurrent tasks), so removing payload
        #     traffic is the N->4N scaling lever.
        # (b) single-pass max_by(struct) partial agg: when the epoch touches
        #     more keys than a broadcast can carry (> broadcast_key_limit),
        #     the one-shuffle plan wins — map-side partial collapse bounds
        #     the exchange at one row per key per task. Equal-LSN duplicates
        #     survive plan (a)'s join; the final LWW agg below collapses them
        #     identically in both plans.
        lineage_grouped = lineage_col is not None
        group_cols = [*keys, BUCKET_COL] + ([lineage_col] if lineage_grouped else [])
        winner_counts = (
            src.groupBy(*group_cols)
            .agg(
                F.max(LSN_COL).alias(LSN_COL),
                F.count(F.lit(1)).alias("__cnt"),
                # count(col) skips NULLs: __cnt - __cnt_lsn = null-LSN rows,
                # guarded below (a NULL log position has no LWW meaning)
                F.count(F.col(LSN_COL)).alias("__cnt_lsn"),
                F.min(LSN_COL).alias("__min_lsn"),
            )
            .persist()
        )
        # ONE driver action (a grouping-sets pass over the cached narrow agg)
        # yields the touched-bucket set, the winner-key count, the batch row
        # count, the LSN high watermark AND the per-partition lineage
        # (epochs are driver-latency-sensitive: each extra job is a serial
        # round trip that 4x cores cannot shrink).
        stat_aggs = [
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("__cnt").alias("n_events"),
            F.sum("__cnt_lsn").alias("n_events_lsn"),
            F.max(LSN_COL).alias("max_lsn"),
            # __min_lsn is the per-key min, so this sees EVERY row's LSN —
            # the documented lower bound (lsn >= 0) is enforced in the same
            # pass that already guards NULLs and the 2**62 ceiling, for free.
            F.min("__min_lsn").alias("min_lsn"),
        ]
        if lineage_grouped:
            stats = (
                winner_counts.groupingSets(
                    [[BUCKET_COL], [lineage_col]], BUCKET_COL, lineage_col
                )
                .agg(*stat_aggs, F.grouping(BUCKET_COL).alias("__gb"))
                .collect()
            )
            bucket_counts = [r for r in stats if r["__gb"] == 0]
            src = src.drop(lineage_col)
            # Tiny cache-fed regroup back to key grain for the broadcast set.
            # (A key spanning several log partitions appears once per
            # partition in the narrow agg; n_keys then overcounts distinct
            # keys, which only flips to plan (b) EARLIER — safe.)
            winner_keys = winner_counts.groupBy(*keys, BUCKET_COL).agg(
                F.max(LSN_COL).alias(LSN_COL)
            )
        else:
            stats = []
            bucket_counts = (
                winner_counts.groupBy(BUCKET_COL).agg(*stat_aggs).collect()
            )
            winner_keys = winner_counts.drop("__cnt", "__cnt_lsn", "__min_lsn")
        pay_src = [c for c in src.columns if c not in keys and c != "__h"]
        n_winner_keys = int(sum(r["n_keys"] for r in bucket_counts))
        src_rows = int(sum(r["n_events"] for r in bucket_counts))
        n_null_lsn = int(
            sum(r["n_events"] - r["n_events_lsn"] for r in bucket_counts)
        )
        max_lsn_seen = max(
            (r["max_lsn"] for r in bucket_counts if r["max_lsn"] is not None),
            default=None,
        )
        min_lsn_seen = min(
            (r["min_lsn"] for r in bucket_counts if r["min_lsn"] is not None),
            default=None,
        )
        if min_lsn_seen is not None and min_lsn_seen < 0:
            winner_counts.unpersist()
            raise ValueError(
                f"LSN {min_lsn_seen} is outside the supported domain "
                f"[0, 2**62): log positions must be non-negative (see "
                f"merge() docstring); re-scale or re-pack the log position "
                f"before merging"
            )
        if n_null_lsn or (
            max_lsn_seen is not None and max_lsn_seen >= _LSN_DOMAIN_MAX
        ):
            winner_counts.unpersist()
            if n_null_lsn:
                raise ValueError(
                    f"{n_null_lsn} source row(s) have a NULL LSN — a NULL log "
                    f"position has no last-writer-wins meaning; assign every "
                    f"event a position in [0, 2**62) before merging"
                )
            raise ValueError(
                f"LSN {max_lsn_seen} is outside the supported domain "
                f"[0, 2**62): the equal-LSN tiebreak packs lsn*2+src into one "
                f"long (see merge() docstring); re-scale or re-pack the log "
                f"position before merging"
            )
        for r in stats:
            if r["__gb"] == 1:
                lineage[r[lineage_col]] = {
                    "events": int(r["n_events"]),
                    "max_lsn": int(r["max_lsn"]),
                }
        plan_b = n_winner_keys > broadcast_key_limit
        stats_seconds = round(time.time() - t0, 3)
        if plan_b:
            src_winners = (
                src.groupBy(*keys)
                .agg(F.max_by(F.struct(*pay_src), F.col(LSN_COL)).alias("__w"))
                .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in pay_src])
                .persist()
            )
        else:
            # Winner PREFILTER on the long key hash, then an exact collapse:
            #
            # 1. Broadcast semi-join on (__h, lsn) — two longs, so the probe
            #    hashes/compares 16 bytes per row instead of the string key
            #    columns (measured: the string-key join-back cost more than
            #    the full-payload scan under it; the long-pair probe roughly
            #    halves the wide pass). It passes a SUPERSET of the winner
            #    rows: hash collisions (random 64-bit, or systematic — e.g.
            #    xxhash64 skips NULL columns, so (a, NULL) and (NULL, a)
            #    share a hash) admit a few extra stale rows.
            # 2. groupBy on the REAL key columns with max_by — over the tiny
            #    filtered set only — removes every collision artifact and
            #    collapses equal-LSN replay duplicates in the same (small)
            #    shuffle the dropDuplicates used to spend. NULL keys are safe
            #    end-to-end: xxhash64 hashes them deterministically and
            #    groupBy treats them as ordinary values.
            wk_hl = winner_keys.select(
                F.xxhash64(*[F.col(k) for k in keys]).alias("__h"),
                F.col(LSN_COL),
            )
            pre = src.join(F.broadcast(wk_hl), ["__h", LSN_COL], "inner")
            # Exact collapse of the prefiltered set — used as-is by defer
            # mode and the empty-target insert path; the rewrite path below
            # FUSES this aggregation with the contested-target resolution
            # so the epoch pays one winner-sized shuffle, not two.
            src_winners = (
                pre.groupBy(*keys)
                .agg(F.max_by(F.struct(*pay_src), F.col(LSN_COL)).alias("__w"))
                .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in pay_src])
            )
        return MergePrep(
            src=src,
            winner_counts=winner_counts,
            winner_keys=winner_keys,
            pre=pre if not plan_b else None,
            src_winners=src_winners,
            bucket_counts=bucket_counts,
            lineage=lineage,
            n_winner_keys=n_winner_keys,
            src_rows=src_rows,
            plan_b=plan_b,
            user_fields=user_fields,
            incoming=incoming,
            stats_seconds=stats_seconds,
            table_root=self.root,
        )

    def merge(
        self,
        source: DataFrame | None = None,
        lsn_col: str = "_lsn",
        tombstone_col: str | None = "_tombstone",
        epoch_id: int | None = None,
        stream_id: str = "default",
        lineage_col: str | None = None,
        broadcast_key_limit: int = 2_000_000,
        compact_files_per_bucket: int = 4,
        mode: str = "rewrite",
        prep: MergePrep | None = None,
    ) -> MergeStats:
        """MERGE upsert: last-writer-wins per key on the LSN.

        Semantics (the Iceberg MERGE the north rule specifies)::

            WHEN MATCHED AND source.lsn >= target.lsn THEN UPDATE *   -- incl. tombstone flag
            WHEN NOT MATCHED THEN INSERT *

        Deletes become RETAINED marker rows (``_tombstone = true``), filtered
        by :meth:`read` and physically removed by :meth:`purge_tombstones`.
        Retention makes the merge **order-insensitive across microbatches**:
        a delete at LSN 100 applied in epoch 1 still out-ranks an insert at
        LSN 50 arriving in epoch 2 — a physical DELETE would have forgotten
        LSN 100 and resurrected the key. (Kafka's own log compaction retains
        tombstones for ``delete.retention.ms`` for exactly this reason.)

        ``source`` carries the user columns plus an LSN column; rows need not
        be pre-deduplicated (an in-batch LWW collapse runs first). On equal
        LSN the source row wins over the stored row — replaying an
        already-applied event is therefore idempotent (the content is
        identical by determinism of the log). Two *distinct* source events
        sharing an LSN for the same key have no defined winner: the LSN must
        be a total order per key (a global offset, or pack
        ``(partition_epoch << k) | offset`` for multi-partition logs before
        calling merge).

        **LSN domain**: ``0 <= lsn < 2**62``. The equal-LSN source-wins
        tiebreak packs ``lsn * 2 + source_flag`` into one long so the LWW
        ordering stays a plain column inside whole-stage codegen (a struct
        ordering drops to an interpreted comparator, measured 5-12x slower);
        a batch whose max LSN is outside the domain raises rather than
        silently overflowing. **NULL keys** are legal: all merge joins use
        null-safe (struct-wrapped) key equality, so a NULL key column
        upserts like any other value in every plan (broadcast join-back,
        union+LWW, and merge-on-read defer).

        ``mode="defer"`` is the **merge-on-read** path (Iceberg MOR
        analogue): the collapsed per-key winners are APPENDED as delta files
        — epoch cost is O(batch), never O(dirty buckets) — and readers
        LWW-collapse base ∪ deltas at scan time (see ``_read_buckets``).
        Deltas fold back into the base the next time a rewrite-mode merge,
        ``purge_tombstones`` or :meth:`compact` touches their bucket. Use
        defer for update-heavy ingest bursts, rewrite (default) for
        read-optimized steady state; exactly-once, LWW and tombstone
        semantics are identical in both modes.

        ``prep``: a :class:`MergePrep` from :meth:`merge_prepare` — the
        source-side stats half, precomputed (typically concurrently with the
        previous epoch's write; see ``engine.replay_pipelined``). When given,
        ``source`` is ignored, ``phases["stats"]`` reports the prep's own
        wall time, and ``seconds`` covers only the apply (write+commit)
        half. The epoch guard and schema evolution always run HERE against
        the apply-time manifest, so a prep computed against a pre-evolution
        manifest stays correct.
        """
        if mode not in ("rewrite", "defer"):
            raise ValueError(f"unknown merge mode: {mode!r}")
        t0 = time.time()
        manifest = self.manifest()
        if epoch_id is not None and int(manifest["epochs"].get(stream_id, -1)) >= epoch_id:
            if prep is not None:
                prep.winner_counts.unpersist()
                if prep.plan_b:
                    prep.src_winners.unpersist()
            return MergeStats(epoch_id=epoch_id, skipped=True)
        if prep is None:
            if source is None:
                raise ValueError("merge() requires a source DataFrame or prep=")
            prep = self.merge_prepare(
                source,
                lsn_col=lsn_col,
                tombstone_col=tombstone_col,
                lineage_col=lineage_col,
                broadcast_key_limit=broadcast_key_limit,
            )
        elif prep.table_root != self.root:
            raise ValueError(
                f"MergePrep was built for table {prep.table_root!r}, "
                f"not {self.root!r}"
            )

        src_winners = prep.src_winners
        src_rows = prep.src_rows
        plan_b = prep.plan_b
        new_schema_json, added, widened = self._evolve_schema(manifest, prep.incoming)
        # Register added columns in the column mapping (no-op for tables
        # that never renamed/dropped): rebinding the local manifest here
        # makes every _bucket_writer call below write the right physical
        # names and every `{**manifest, ...}` commit carry the mapping.
        mapping_updates = self._mapping_after_add(manifest, added)
        if mapping_updates:
            manifest = {**manifest, **mapping_updates}
        phases = {"stats": prep.stats_seconds}
        try:
            dirty = sorted(int(r[BUCKET_COL]) for r in prep.bucket_counts)

            if mode == "defer":
                # Bound read amplification: once a dirty bucket has
                # accumulated compact_files_per_bucket pending deltas, this
                # epoch pays the rewrite (folding them) instead of deferring.
                pending = manifest.get("deltas", {})
                max_pending = max(
                    (len(pending.get(str(b), [])) for b in dirty), default=0
                )
                if max_pending >= compact_files_per_bucket:
                    mode = "rewrite"

            summary = {"source_rows": src_rows, "dirty_buckets": len(dirty),
                       "stream_id": stream_id, "epoch_id": epoch_id}
            epochs = {} if epoch_id is None else {stream_id: epoch_id}
            changes = {
                "epochs": {**manifest["epochs"], **epochs},
                "schema": new_schema_json or manifest["schema"],
            }
            if mode == "defer":
                # Merge-on-read: append collapsed winners as delta files and
                # commit; the target is never read, so epoch cost is O(batch).
                # Both plans pre-collapse src_winners to one row per key.
                version, out_dir, phases["write"] = self._write_version(
                    manifest,
                    src_winners.repartition(max(len(dirty), 1), F.col(BUCKET_COL)),
                )
                t_c = time.time()
                deltas = {
                    b: list(vs) for b, vs in manifest.get("deltas", {}).items()
                }
                for b in self._bucket_dirs(out_dir):
                    deltas.setdefault(str(b), []).append(version)
                committed = self._commit(
                    manifest, version, {**summary, "mode": "defer"}, out_dir,
                    deltas=deltas, **changes,
                )
                phases["commit"] = round(time.time() - t_c, 3)
            else:
                committed, phases["write"], phases["commit"] = self._rewrite_buckets(
                    manifest,
                    dirty,
                    self._merge_rows(
                        manifest, dirty, prep, compact_files_per_bucket
                    ),
                    summary,
                    **changes,
                )
        finally:
            # unpersist on every exit path -- a write/schema failure must
            # not leak the cached winners for the session's lifetime
            prep.winner_counts.unpersist()
            if plan_b:
                src_winners.unpersist()
        return MergeStats(
            epoch_id=epoch_id,
            skipped=False,
            source_rows=src_rows,
            dirty_buckets=len(dirty),
            total_buckets=len(committed["buckets"]),
            # one LWW-collapsed row per key: in defer mode exactly the
            # appended delta rows; replicate() reports it
            rows_written=prep.n_winner_keys,
            schema_added_columns=added,
            schema_widened_columns=widened,
            seconds=time.time() - t0,
            lineage=prep.lineage,
            phases=phases,
        )

    def _merge_rows(
        self,
        manifest: dict,
        dirty: list[int],
        prep: MergePrep,
        compact_files_per_bucket: int,
    ) -> DataFrame:
        """The new contents of a rewrite-mode merge's dirty buckets: the
        prepared source winners LWW-combined with the dirty target rows."""
        keys = manifest["key_columns"]
        src_winners = prep.src_winners
        plan_b = prep.plan_b
        target = self._read_buckets(manifest, dirty)
        if target is not None:
            # Align target to the evolved column set. Stored rows carry their
            # own tombstone flag: delete markers are RETAINED in the table
            # (filtered at read) so their LSN keeps shielding the key from
            # late-arriving lower-LSN inserts — batches need not be LSN-ordered.
            for f_ in prep.user_fields:
                if f_.name not in target.columns:
                    target = target.withColumn(f_.name, F.lit(None).cast(f_.dataType))
            if TOMBSTONE_COL not in target.columns:
                target = target.withColumn(TOMBSTONE_COL, F.lit(False))

        # Combine source winners with the dirty-target rows. Two plans,
        # matching the collapse above:
        #
        # (a) broadcast-merge (default): untouched target rows are carried
        #     MAP-ONLY (one broadcast probe against the winner-key set);
        #     rows whose key this epoch touched resolve in one
        #     winner-sized aggregation shared with the source prefilter
        #     (see the plan (a) construction above). NO shuffle is
        #     proportional to table or batch size — at 100 TB an
        #     update-heavy epoch rewrites its dirty buckets in place of a
        #     cluster-wide exchange; the only exchange carries ~one row
        #     per touched key.
        #     File growth: carried rows write ~one file per input split, so
        #     a bucket gains ~one file per epoch; once any dirty bucket
        #     exceeds compact_files_per_bucket the epoch's write runs
        #     through the compacting repartition below instead (amortized
        #     compaction-on-write, Iceberg rewrite_data_files folded into
        #     the merge).
        # (b) union + LWW aggregation: when winners exceed the broadcast
        #     limit — one key-hash shuffle of winners ∪ dirty-target rows.
        #     Source wins equal-LSN ties by packing (lsn, src) into one
        #     long: a plain-column max_by ordering stays inside whole-stage
        #     codegen (struct orderings drop to an interpreted comparator
        #     that measured 5-12x slower), and sessions should raise
        #     spark.sql.objectHashAggregate.sortBased.fallbackThreshold
        #     (default 128 keys => every epoch silently sorts; see
        #     main.build_session).
        # A delta-collapsed target already pays a key-hash aggregation in
        # _read_buckets, scattering carried rows across shuffle
        # partitions — force the compacting repartition then, or a bucket
        # gains up to shuffle-partitions small files in one epoch.
        has_deltas = any(
            manifest.get("deltas", {}).get(str(b)) for b in dirty
        )
        compact = plan_b or has_deltas or self._max_files_per_dirty_bucket(
            manifest, dirty
        ) >= compact_files_per_bucket
        if not plan_b:
            if target is not None:
                # ONE probe of the target against the winner-key set
                # (struct-wrapped keys: null-safe equality, still a
                # BroadcastHashJoin) splits it into:
                #   carried  — keys this epoch never touched: rewritten
                #              MAP-ONLY, no shuffle, no comparison;
                #   contested — target rows whose key has a winner: the
                #              LWW decision (including the stale-late-
                #              arrival case) moves into the SAME small
                #              aggregation that collapses the prefiltered
                #              source rows, via the packed
                #              (lsn*2 + source_flag) ordering — source
                #              wins equal LSN, so replay is idempotent.
                # This removes the former second target probe + stale-set
                # broadcast build + anti-join: per epoch, two broadcast
                # builds and one winner-sized exchange, total.
                wk = prep.winner_keys.select(
                    F.struct(*keys).alias("__jk"), F.col(LSN_COL).alias("__w_lsn")
                )
                tj = target.withColumn("__jk", F.struct(*keys)).join(
                    F.broadcast(wk), "__jk", "left"
                )
                carried = tj.filter(F.col("__w_lsn").isNull()).drop(
                    "__jk", "__w_lsn"
                )
                contested = tj.filter(F.col("__w_lsn").isNotNull()).drop(
                    "__jk", "__w_lsn"
                )
                combined = prep.pre.withColumn("__src", F.lit(1)).unionByName(
                    contested.withColumn("__src", F.lit(0)),
                    allowMissingColumns=True,
                )
                pay2 = [
                    c
                    for c in combined.columns
                    if c not in keys and c not in ("__h", "__src")
                ]
                ordering = F.col(LSN_COL) * 2 + F.col("__src")
                resolved = (
                    combined.groupBy(*keys)
                    .agg(F.max_by(F.struct(*pay2), ordering).alias("__w"))
                    .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in pay2])
                )
                live = carried.unionByName(
                    resolved if compact else resolved.repartition(
                        max(len(dirty), 1), F.col(BUCKET_COL)
                    ),
                    allowMissingColumns=True,
                )
            else:
                live = src_winners
        else:
            tgt = (
                [target.withColumn("__src", F.lit(0))] if target is not None else []
            )
            combined = src_winners.withColumn("__src", F.lit(1))
            for t_ in tgt:
                combined = combined.unionByName(t_, allowMissingColumns=True)
            pay2 = [c for c in combined.columns if c not in keys]
            ordering = F.col(LSN_COL) * 2 + F.col("__src")
            live = (
                combined.groupBy(*keys)
                .agg(F.max_by(F.struct(*pay2), ordering).alias("__w"))
                .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in pay2])
                .drop("__src")
            )

        # The compacting path bounds output to one file per touched bucket;
        # the map-only path streams carried rows straight from their bucket
        # files into the new version.
        if compact:
            live = live.repartition(max(len(dirty), 1), F.col(BUCKET_COL))
        return live

    def bootstrap(
        self,
        snapshot: DataFrame,
        snapshot_lsn: int = 0,
        stream_id: str = "default",
        epoch_id: int = 0,
    ) -> MergeStats:
        """Initial-snapshot load: the Debezium snapshot-then-stream pattern.

        A CDC pipeline against an existing source can't replay the log from
        the beginning (it's been compacted away); it loads one consistent
        snapshot of the source table, then tails the changelog from the
        snapshot's log position. ``snapshot`` is that consistent read —
        key + payload columns, optionally its own ``_lsn`` column (kept
        per-row if present; else every row is stamped ``snapshot_lsn``, the
        log position the snapshot was taken at). The load is epoch 0 of
        ``stream_id``, so a crashed-and-restarted bootstrap is idempotent
        under the same exactly-once guard as every other epoch, and the
        subsequent tail (events with ``lsn > snapshot_lsn``) continues as
        epochs 1.. — final state is identical to a full-log replay (see
        ``tests/test_bootstrap.py``).

        Requires an empty table: bootstrap is a beginning, not an upsert
        (use :meth:`merge` to fold a snapshot into existing state).
        """
        manifest = self.manifest()
        if manifest["buckets"] or manifest.get("deltas"):
            raise ValueError(
                "bootstrap requires an empty table; this one has data "
                "(merge the snapshot instead)"
            )
        src = snapshot
        if LSN_COL not in src.columns:
            src = src.withColumn(LSN_COL, F.lit(int(snapshot_lsn)).cast("long"))
        if TOMBSTONE_COL not in src.columns:
            src = src.withColumn(TOMBSTONE_COL, F.lit(False))
        return self.merge(src, epoch_id=epoch_id, stream_id=stream_id)

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def _zorder_column(
        self, df: DataFrame, zorder_by: list[str], bits: int
    ) -> Column:
        """Morton (Z-order) key over the given columns, scale-shaped.

        Per column, ``2**bits - 1`` range boundaries come from an ordered,
        capped distinct sample (works for every orderable type — strings
        included — where quantile sketches only cover numerics; the collect
        is bounded at 64k values however big the table is). Each row's
        per-column rank is a single ``aggregate`` fold over the boundary
        literal array (no 255-deep CASE cascade in codegen), and the ranks'
        bits interleave into one long. NULLs rank lowest, matching the
        null-first order ``sort_by`` would give. Delta OPTIMIZE ZORDER /
        Iceberg z-order rewrite semantics; everything after the boundary
        sample is map-only.
        """
        n_bound = (1 << bits) - 1

        def rank_of(col: Column, bounds: list) -> Column:
            return F.aggregate(
                F.array(*[F.lit(b) for b in bounds]),
                F.lit(0).cast("long"),
                lambda acc, b: acc
                + F.when(col >= b, 1).otherwise(0).cast("long"),
            )

        ranks = []
        for c in zorder_by:
            # A UNIFORM sample of the distinct values: ordering by the
            # value's hash before the limit draws from the whole range
            # (deterministically), where `orderBy(c).limit(n)` would take
            # the n SMALLEST distincts — past 64k distincts that collapses
            # every boundary into the low prefix and all higher rows share
            # one rank, silently defeating the data-skipping. The collected
            # sample is sorted driver-side (bounded at 64k values).
            vals = sorted(
                r[0]
                for r in df.select(c).na.drop().distinct()
                .orderBy(F.xxhash64(F.col(c)))
                .limit(65536).collect()
            )
            if not vals:
                ranks.append(F.lit(0).cast("long"))
                continue
            step = max(len(vals) / (n_bound + 1), 1e-9)
            bounds = sorted({vals[min(int((i + 1) * step), len(vals) - 1)]
                             for i in range(n_bound)})
            ranks.append(rank_of(F.col(c), bounds))
        return sum(
            (
                F.shiftleft(
                    F.shiftright(rank, b).bitwiseAND(F.lit(1)),
                    b * len(ranks) + i,
                )
                for i, rank in enumerate(ranks)
                for b in range(bits)
            ),
            start=F.lit(0).cast("long"),
        )

    def compact(
        self,
        buckets: list[int] | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 8,
    ) -> int:
        """Fold pending merge-on-read deltas into fresh base files.

        The standalone Iceberg ``rewrite_data_files`` analogue for
        ``merge(mode="defer")`` tables: every bucket with pending deltas
        (or the given subset) is read delta-collapsed and rewritten as one
        file in a new snapshot; the manifest drops the folded delta refs.
        Returns the number of buckets compacted. Run it between ingest
        bursts to restore scan-only reads.

        ``sort_by`` clusters each rewritten bucket on the given columns
        (Iceberg sort-order compaction): rows land in parquet row groups in
        sorted order, so the per-row-group min/max stats become disjoint and
        a pushed-down range predicate on those columns skips whole row
        groups INSIDE the files that bucket- and manifest-level pruning
        already narrowed to. Sorting is within-bucket only — one extra local
        sort per task, no extra shuffle — and is recorded in the manifest as
        ``sort_order`` for audit.

        ``zorder_by`` is the multi-dimensional form (Delta OPTIMIZE ZORDER):
        rows cluster on an interleaved-bit Morton key, so row-group stats
        tighten on EVERY listed column at once — a lexicographic sort makes
        the first column's stats disjoint and leaves the others full-range
        per group. Because z-ordering is a re-cluster, not just delta
        folding, it rewrites ALL data buckets (or the given subset), pending
        deltas or not. Costs one bounded boundary-sample job per column up
        front; the rewrite itself stays one local sort per task.
        """
        if sort_by and zorder_by:
            raise ValueError("compact: sort_by and zorder_by are exclusive")
        manifest = self.manifest()
        pending = manifest.get("deltas", {})
        candidates = (
            set(pending) | set(manifest["buckets"]) if zorder_by else set(pending)
        )
        todo = sorted(
            int(b) for b in candidates if buckets is None or int(b) in set(buckets)
        )
        if not todo:
            return 0
        folded = self._read_buckets(manifest, todo)
        clustered = folded.repartition(len(todo), F.col(BUCKET_COL))
        if zorder_by:
            clustered = clustered.withColumn(
                "__z", self._zorder_column(folded, zorder_by, zorder_bits)
            ).sortWithinPartitions(BUCKET_COL, "__z").drop("__z")
        elif sort_by:
            # BUCKET_COL leads the sort: hash repartition may co-locate two
            # buckets in one task, and partitionBy splits them back into
            # separate files — each must stay internally sorted
            clustered = clustered.sortWithinPartitions(BUCKET_COL, *sort_by)
        self._rewrite_buckets(manifest, todo, clustered, {
            "compacted_buckets": len(todo),
            **({"sort_order": list(sort_by)} if sort_by else {}),
            **({"zorder": list(zorder_by)} if zorder_by else {}),
        })
        return len(todo)

    def rebucket(self, new_num_buckets: int) -> int:
        """Change the table's bucket count in one atomic snapshot (the
        Iceberg partition-spec-evolution analogue).

        A bucket count sized for the first 100 GB is wrong at 100 TB: too
        few buckets → giant merge tasks and useless lookup pruning; too many
        → small files. ``rebucket`` reads the current rows (folding any
        pending merge-on-read deltas), re-hashes every key under the new
        count with the writer's own ``pmod(xxhash64(*keys), n)`` expression,
        and commits ONE new snapshot whose manifest carries the new count —
        a full-table rewrite, the honest cost of re-hash-partitioning, run
        as a single wide job sized by ``new_num_buckets``. Epoch guards are
        untouched (maintenance, not an epoch), and because every reader
        takes ``num_buckets`` from the manifest of the snapshot it reads,
        time travel ACROSS the rebucket stays correct — old snapshots keep
        pruning with the old count, new ones with the new.

        Returns the number of buckets written under the new layout.
        """
        n = int(new_num_buckets)
        if n < 1:
            raise ValueError(f"num_buckets must be >= 1, got {n}")
        manifest = self.manifest()
        if n == int(manifest["num_buckets"]):
            return 0
        keys = manifest["key_columns"]
        df = self._read_buckets(manifest, None)
        if df is not None:
            df = (
                df.drop(BUCKET_COL)
                .withColumn(
                    BUCKET_COL,
                    F.pmod(
                        F.xxhash64(*[F.col(k) for k in keys]), F.lit(n)
                    ).cast("int"),
                )
                .repartition(n, F.col(BUCKET_COL))
            )
        # every old bucket and delta is dirty: the whole table re-hashes
        committed, _, _ = self._rewrite_buckets(
            manifest,
            {*manifest["buckets"], *manifest.get("deltas", {})},
            df,
            {"rebucketed_to": n},
            num_buckets=n,
        )
        return len(committed["buckets"])

    # ------------------------------------------------------------------
    # retention
    # ------------------------------------------------------------------
    def describe(self, version: int | None = None) -> dict:
        """Metadata-only table report — no Spark job, no file scan.

        Everything comes from the manifest: snapshot lineage, schema, per-
        bucket physical row counts (from the footer stats each commit already
        records) and the skew ratio between the hottest and the median
        bucket — the number that says whether :meth:`rebucket` or key
        salting is due BEFORE a 100 TB scan finds out the hard way. Row
        counts are physical (delete markers and unfolded merge-on-read delta
        rows included), matching what the next maintenance rewrite will
        actually lift.
        """
        m = self.manifest(version)
        rows_by_bucket: dict[str, int] = {}
        for key, st in m.get("file_stats", {}).items():
            b = key.split("/", 1)[1]
            rows_by_bucket[b] = rows_by_bucket.get(b, 0) + int(st.get("__rows", 0))
        counts = sorted(rows_by_bucket.values())
        med = counts[len(counts) // 2] if counts else 0
        schema = self._table_schema(m)
        return {
            "version": int(m["version"]),
            "parent": m.get("parent"),
            "ref": self.ref,
            "key_columns": list(m["key_columns"]),
            "num_buckets": int(m["num_buckets"]),
            "buckets_with_data": len(m["buckets"]),
            "pending_delta_buckets": len(m.get("deltas", {})),
            "data_versions_referenced": sorted({
                int(v) for v in m["buckets"].values()
            } | {int(v) for vs in m.get("deltas", {}).values() for v in vs}),
            "physical_rows": sum(counts),
            "rows_per_bucket": {
                "min": counts[0] if counts else 0,
                "median": med,
                "max": counts[-1] if counts else 0,
                "skew_max_over_median": round(counts[-1] / med, 3) if med else None,
            },
            "columns": [f_.name for f_ in schema.fields] if schema else [],
            "column_mapping": {
                log: dict(e) for log, e in (m.get("column_mapping") or {}).items()
            } or None,
            "retired_physical": list(m.get("retired_physical", [])) or None,
            "streams": dict(m.get("epochs", {})),
            "refs": self.refs(),
        }

    def history(self, ref: str | None = None) -> list[dict]:
        """Snapshot log along a ref's ancestry, newest first (Iceberg
        ``table.history()`` analogue) — metadata only, no scan.

        Each entry carries the commit's own summary (epoch merges record
        stream/epoch/rows, maintenance ops record what they did), so the
        audit question "what changed the table, when, and how much" reads
        straight off the manifests that time travel already keeps.
        """
        out = []
        for v in self._ancestry(self._head_version(ref or self.ref)):
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                break  # expired below the retention horizon
            out.append({
                "version": int(v),
                "parent": m.get("parent"),
                "committed_at_ms": m.get("summary", {}).get("committed_at_ms"),
                "summary": m.get("summary", {}),
                "buckets_referenced": len(m.get("buckets", {})),
                "pending_delta_buckets": len(m.get("deltas", {})),
            })
        return out

    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> dict:
        """Garbage-collect data versions unreachable from the newest
        ``keep_last`` snapshots (Iceberg ``expire_snapshots`` analogue).

        Each merge writes dirty buckets into a fresh ``data/v{N}`` dir while
        clean buckets keep referencing older dirs, so storage grows with
        UPDATE churn until expiry. A data dir is deleted only when no
        retained manifest references it; retained = the newest ``keep_last``
        manifests (older manifest files are removed too, ending their
        time-travel window). Returns ``{"data_versions_removed": …,
        "manifests_removed": …}``.

        ``older_than_ms`` adds Iceberg's time-based guard: a snapshot whose
        commit timestamp is at or after the cutoff is retained even beyond
        ``keep_last`` — "keep one snapshot, but never expire anything
        younger than N days" composes both dials. It only ever widens
        retention.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        current = self._head_version("main")
        manifest_dir = os.path.join(self.root, "manifests")
        versions = sorted(
            int(name[1:-5])
            for name in os.listdir(manifest_dir)
            if name.startswith("v") and name.endswith(".json")
        )
        # Retained = the newest keep_last snapshots along MAIN's ancestry
        # (parent chain, so versions allocated to branches don't shrink
        # main's time-travel window) + every tag head + every branch's
        # PRIVATE ancestry (its parent chain down to where it rejoins main):
        # publish() walks the branch chain to prove main's head is an
        # ancestor, and rollback() walks it for the target check, so
        # expiring an interior branch manifest would permanently wedge the
        # write-audit-publish promotion of any branch with 2+ commits. Main
        # history below the fork point still ages out normally — the walk
        # stops at the first version that lies on main's chain.
        main_ancestry = self._ancestry(current)
        retained_set = set(main_ancestry[:keep_last])
        main_ancestry_set = set(main_ancestry)
        refs = self.refs()
        for v in refs["tags"].values():
            retained_set.add(int(v))
        for v in refs["branches"].values():
            for a in self._ancestry(int(v)):
                retained_set.add(a)
                if a in main_ancestry_set:
                    break  # fork point: the publish anchor; older is main's
        if older_than_ms is not None:
            for v in versions:
                if v in retained_set:
                    continue
                m = self.manifest(v)
                ts = m.get("summary", {}).get("committed_at_ms")
                if ts is None:  # pre-summary manifest: fall back to file mtime
                    ts = int(
                        os.path.getmtime(
                            os.path.join(manifest_dir, f"v{v}.json")
                        ) * 1000
                    )
                if ts >= older_than_ms:
                    retained_set.add(v)
        retained = sorted(v for v in versions if v in retained_set)
        live_data: set[int] = set()
        for v in retained:
            m = self.manifest(v)
            live_data.update(int(dv) for dv in m["buckets"].values())
            # pending merge-on-read delta dirs are live data too
            for vs in m.get("deltas", {}).values():
                live_data.update(int(dv) for dv in vs)
        data_dir = os.path.join(self.root, "data")
        removed_data = 0
        for name in sorted(os.listdir(data_dir)):
            # Only v<digits> dirs are ours; skip stray artifacts (temp dirs,
            # _SUCCESS-style markers) instead of aborting GC midway.
            if not name.startswith("v") or not name[1:].isdigit():
                continue
            if int(name[1:]) not in live_data:
                shutil.rmtree(os.path.join(data_dir, name))
                removed_data += 1
        removed_manifests = 0
        for v in versions:
            if v not in retained:
                os.remove(os.path.join(manifest_dir, f"v{v}.json"))
                removed_manifests += 1
        return {"data_versions_removed": removed_data, "manifests_removed": removed_manifests}

    def purge_tombstones(self, below_lsn: int) -> int:
        """Physically drop delete markers with ``_lsn < below_lsn``.

        The retention job (Kafka ``delete.retention.ms`` analogue): once the
        ingest's per-partition high watermarks have all passed ``below_lsn``,
        no in-flight event can carry a lower LSN, so markers below it can no
        longer shield anything and are safe to remove. Rewrites every bucket
        that still holds such markers into a new snapshot; returns the number
        of buckets rewritten.
        """
        return self._rewrite_where(
            F.col(LSN_COL) < below_lsn, None, None, "purge_tombstones",
            markers=True, purged_below_lsn=below_lsn,
        )["buckets_rewritten"]

    def purge_below_watermark(self, metrics, stream_id: str | None = None) -> dict:
        """Retention as an operational one-liner: purge delete markers the
        ingest's own lineage proves dead.

        ``metrics`` is the :class:`~kafka_connect_plugins_spark.streaming.MetricsLog`
        the ingest wrote (or any object with ``high_watermarks(stream_id)``).
        The safe purge bound is the MINIMUM per-source-partition applied-LSN
        high watermark: source LSNs are monotone within a partition, so every
        in-flight event for partition ``p`` carries ``lsn > hw[p] >= min_hw``
        — a marker with ``lsn < min_hw`` can never shield anything again.
        A marker exactly AT the watermark survives (``purge_tombstones`` is
        strict-less-than): the event that wrote it may be re-delivered by an
        at-least-once replay and must still find its shield.

        Returns ``{"below_lsn", "buckets_rewritten", "partitions"}``; a
        no-op (no recorded epochs yet) returns ``below_lsn = None``.
        """
        hw = metrics.high_watermarks(stream_id)
        if not hw:
            return {"below_lsn": None, "buckets_rewritten": 0, "partitions": 0}
        below = min(hw.values())
        return {
            "below_lsn": below,
            "buckets_rewritten": self.purge_tombstones(below_lsn=below),
            "partitions": len(hw),
        }

    def _rewrite_where(
        self,
        condition: Column,
        assignments: dict[str, Column] | None,
        prune: dict | None,
        op: str,
        markers: bool = False,
        **summary,
    ) -> dict:
        """Shared copy-on-write skeleton for :meth:`delete_where`,
        :meth:`update_where` and :meth:`purge_tombstones`: find the buckets
        holding live rows (delete markers when ``markers``) that match
        ``condition`` (one narrow scan + a <= num_buckets-row aggregation),
        drop or update (``assignments``) them by rewriting ONLY those
        buckets, commit one new snapshot with ``summary`` added. Untouched
        buckets keep referencing their existing files — the rewrite cost is
        proportional to the matched data, not the table.
        """
        nothing = {"op": op, "rows_matched": 0, "buckets_rewritten": 0}
        manifest = self.manifest()
        current = self._read_buckets(manifest, None, prune=prune)
        if current is None:
            return nothing
        # Three-valued logic: a NULL predicate row must be treated as
        # unmatched (kept by DELETE, untouched by UPDATE) — `filter(~NULL)`
        # would silently DROP it from the rewrite, losing the row.
        live = F.coalesce(condition, F.lit(False))
        if TOMBSTONE_COL in current.columns:
            # mutations address live rows only; delete markers are retention's
            # business (purge_tombstones), never a predicate DELETE/UPDATE's
            marker = F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
            live = live & (marker if markers else ~marker)
        elif markers:
            return nothing
        hits = current.filter(live).groupBy(BUCKET_COL).count().collect()
        if not hits:
            return nothing
        dirty = sorted(int(r[BUCKET_COL]) for r in hits)
        matched = int(sum(r["count"] for r in hits))
        df = self._read_buckets(manifest, dirty)
        if assignments is None:
            out = df.filter(~live)
        else:
            # cast the new value INSIDE the branch: when/otherwise unifies
            # branch types first, and letting it coerce the OLD column toward
            # the literal's type would corrupt (or fail) unmatched rows
            out = df.select(*[
                F.when(live, assignments[c].cast(df.schema[c].dataType))
                .otherwise(F.col(c)).alias(c)
                if c in assignments else F.col(c)
                for c in df.columns
            ])
        self._rewrite_buckets(
            manifest,
            dirty,
            out.repartition(len(dirty), F.col(BUCKET_COL)),
            {"op": op, "rows_matched": matched,
             "rewritten_buckets": len(dirty), **summary},
        )
        return {"op": op, "rows_matched": matched, "buckets_rewritten": len(dirty)}

    def delete_where(self, condition: Column, prune: dict | None = None) -> dict:
        """Predicate DELETE as one copy-on-write snapshot (Iceberg
        ``DELETE FROM … WHERE`` analogue — the compliance-erasure path).

        Only buckets that actually hold a matching live row are rewritten;
        every other bucket's files are carried by reference, so a delete of
        one user's rows from a 100 TB table costs a scan plus a rewrite of
        the few buckets that key hashes into — pass ``prune`` (the
        ``read(prune=…)`` bounds map, which must be implied by
        ``condition``) and the scan itself skips every bucket whose file
        stats are disjoint.

        This is an out-of-band table mutation, not a CDC tombstone: no
        delete marker is left behind, so if the upstream log later replays
        an insert for a deleted key the key returns. Erasure pipelines must
        redact the upstream subject too; prior snapshots still hold the rows
        until :meth:`expire_snapshots` retires them.

        Returns ``{"op", "rows_matched", "buckets_rewritten"}``; matching
        nothing commits nothing.
        """
        return self._rewrite_where(condition, None, prune, "delete_where")

    def _check_assignments(self, manifest: dict, assignments, op: str) -> None:
        """Reject SET targets that are key or bookkeeping columns, or that
        the table schema lacks."""
        engine = {*manifest["key_columns"], LSN_COL, BUCKET_COL, TOMBSTONE_COL}
        bad = sorted(set(assignments) & engine)
        if bad:
            raise ValueError(f"{op} cannot assign key/bookkeeping columns: {bad}")
        schema = self._table_schema(manifest)
        known = {f_.name for f_ in schema.fields} if schema is not None else set()
        unknown = sorted(set(assignments) - known)
        if unknown:
            raise ValueError(f"{op}: no such columns: {unknown}")

    def update_where(
        self,
        condition: Column,
        assignments: dict[str, Column],
        prune: dict | None = None,
    ) -> dict:
        """Predicate UPDATE as one copy-on-write snapshot (Iceberg
        ``UPDATE … SET … WHERE`` analogue).

        ``assignments`` maps payload column name → new-value Column,
        evaluated against the OLD row (standard UPDATE semantics) and cast
        back to the column's table type so the snapshot schema never drifts.
        Key columns and bookkeeping columns (``_lsn``, ``_bucket``,
        ``_tombstone``) are not assignable — a key change is a
        delete + insert through :meth:`merge`, and LWW ordering stays the
        ingest's property. Bucket selection, stats pruning, and commit
        mechanics are exactly :meth:`delete_where`'s.
        """
        self._check_assignments(self.manifest(), assignments, "update_where")
        return self._rewrite_where(condition, assignments, prune, "update_where")

    def merge_into(
        self,
        source: DataFrame,
        *,
        matched_update: dict[str, Column] | None = None,
        matched_update_condition: Column | None = None,
        matched_delete_condition: Column | None = None,
        not_matched_insert: bool = True,
        not_matched_condition: Column | None = None,
    ) -> dict:
        """Generic clause-form MERGE INTO (the Delta/Iceberg verb), distinct
        from :meth:`merge`'s LWW CDC upsert::

            MERGE INTO t USING source ON <key columns>
            WHEN MATCHED AND <delete_cond> THEN DELETE
            WHEN MATCHED AND <update_cond> THEN UPDATE SET <assignments>
            WHEN NOT MATCHED AND <insert_cond> THEN INSERT <source row>

        Column namespace in conditions and assignments: the TARGET row's
        columns by name, the SOURCE row's columns under the struct ``src``
        (e.g. ``F.col("src.op") == "delete"``, ``{"props":
        F.col("src.props")}``). "Matched" means matched a LIVE target row;
        a key whose stored row is a delete marker counts as NOT matched
        (the Delta semantics — the row is deleted), so an insert for it
        REPLACES the marker, adopting ``greatest(source _lsn, marker _lsn)``
        so the marker's replay shield survives: log events strictly below
        the marker's LSN still lose to the out-of-band insert. Updated rows
        keep their ``_lsn`` (same contract as :meth:`update_where`); brand
        new keys take the source's ``_lsn`` (0 when the source has none).

        Execution is the bucket-wise copy-on-write of
        :meth:`delete_where`: source keys hash to their buckets with the
        writer's own ``pmod(xxhash64(*keys), n)``, ONLY those buckets are
        read (delta-collapsed) and full-outer-joined to the source on the
        key columns — a 100-row source against a 100 TB table touches a
        handful of buckets and never shuffles the table. Ambiguous merges
        (two source rows sharing a key) raise, as Delta does. Source
        columns outside the table schema are conditions-only (visible
        under ``src``, never inserted — schema evolution is
        :meth:`merge`'s business); table columns the source lacks insert
        as NULL.

        Returns ``{"op", "rows_updated", "rows_deleted", "rows_inserted",
        "buckets_rewritten"}``; a no-op (no clause fired) commits nothing.
        """
        manifest = self.manifest()
        keys = list(manifest["key_columns"])
        n_buckets = int(manifest["num_buckets"])
        schema = self._table_schema(manifest)
        if schema is None:
            raise ValueError("merge_into on an empty table with no schema yet")
        table_cols = [f_.name for f_ in schema.fields if f_.name != BUCKET_COL]
        if "src" in table_cols:
            raise ValueError(
                "merge_into reserves the name 'src' for the source-row "
                "struct; this table has a column named 'src'"
            )
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"source is missing key columns: {missing}")
        # source columns OUTSIDE the table schema are legal: they're visible
        # to conditions/assignments under ``src`` (e.g. an op discriminator)
        # but never insert — only schema columns map into the table
        # (merge_into does not evolve schemas; that's merge()'s business).
        self._check_assignments(manifest, matched_update or {}, "merge_into")

        src_payload = [c for c in source.columns if c not in keys]
        # cast source keys to the TABLE's key types before hashing: xxhash64
        # hashes int 7 and string '7' differently, so an uncast mismatch
        # would route the key to the wrong bucket and silently duplicate it
        key_types = {f_.name: f_.dataType for f_ in schema.fields}
        kcast = [F.col(k).cast(key_types[k]) for k in keys]
        src = source.select(
            *[c.alias(k) for c, k in zip(kcast, keys)],
            F.pmod(F.xxhash64(*kcast), F.lit(n_buckets))
            .cast("int")
            .alias(BUCKET_COL),
            F.struct(*[F.col(c) for c in src_payload]).alias("src"),
        )
        # one job: per-bucket source-key counts AND the ambiguity check
        per_key = src.groupBy(BUCKET_COL, *keys).agg(
            F.count(F.lit(1)).alias("__c")
        )
        stats = per_key.groupBy(BUCKET_COL).agg(
            F.max("__c").alias("__max"), F.count(F.lit(1)).alias("__keys")
        ).collect()
        if not stats:
            return {"op": "merge_into", "rows_updated": 0, "rows_deleted": 0,
                    "rows_inserted": 0, "buckets_rewritten": 0}
        if max(int(r["__max"]) for r in stats) > 1:
            raise ValueError(
                "merge_into: multiple source rows share a key — the merge "
                "is ambiguous (pre-collapse the source, or use merge() for "
                "LWW streams)"
            )
        dirty = sorted(int(r[BUCKET_COL]) for r in stats)

        current = self._read_buckets(manifest, dirty)
        if current is None:
            cur_schema = T.StructType(
                [f_ for f_ in schema.fields if f_.name != BUCKET_COL]
                + [T.StructField(BUCKET_COL, T.IntegerType())]
            )
            current = self.spark.createDataFrame([], cur_schema)
        cur_cols = [c for c in current.columns if c != BUCKET_COL]
        left = current.withColumn(
            BUCKET_COL, F.col(BUCKET_COL).cast("int")
        ).withColumn("__t", F.lit(True))
        # NULL-SAFE key join: merge() and lookup() treat NULL key components
        # as a legal key value (eqNullSafe / IS NOT DISTINCT FROM); a plain
        # USING join here would never match them, carrying the stored
        # NULL-key row AND inserting the source's — two rows for one key.
        cond = F.lit(True)
        for k in keys:
            cond = cond & left[k].eqNullSafe(src[k])
        cond = cond & (left[BUCKET_COL] == src[BUCKET_COL])
        joined = left.join(src, cond, "full_outer").select(
            F.coalesce(left[BUCKET_COL], src[BUCKET_COL]).alias(BUCKET_COL),
            *[F.coalesce(left[k], src[k]).alias(k) for k in keys],
            *[left[c] for c in cur_cols if c not in keys],
            src["src"],
            left["__t"],
        )

        t_exists = F.coalesce(F.col("__t"), F.lit(False))
        s_exists = F.col("src").isNotNull()
        if TOMBSTONE_COL in cur_cols:
            is_marker = t_exists & F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
        else:
            is_marker = F.lit(False)
        live_match = t_exists & ~is_marker & s_exists
        true_ = F.lit(True)
        del_c = live_match & (
            matched_delete_condition
            if matched_delete_condition is not None else F.lit(False)
        )
        upd_c = live_match & (
            (matched_update_condition
             if matched_update_condition is not None else true_)
            if matched_update is not None else F.lit(False)
        )
        ins_c = (
            s_exists & ~live_match
            & (F.lit(True) if not_matched_insert else F.lit(False))
            & (not_matched_condition
               if not_matched_condition is not None else true_)
        )
        action = (
            F.when(del_c, F.lit("D"))   # order gives DELETE precedence
            .when(upd_c, F.lit("U"))
            .when(ins_c, F.lit("I"))
            .when(t_exists, F.lit("C"))          # carry (incl. markers)
            .otherwise(F.lit("X"))               # unmatched source, no insert
        )
        # persist: the action-count collect AND the write below consume this
        # plan — uncached, the dirty-bucket read + full-outer join would run
        # twice (doubling the dominant I/O), and a non-deterministic source
        # could make the reported counts diverge from what was written
        with_action = joined.withColumn("__a", action).persist()
        # finally: a failing counts-collect, parquet write, or manifest
        # commit must not leak the persisted full-outer join (merge()
        # gives its caches the same guarantee)
        try:
            counts = {
                r["__a"]: int(r["n"])
                for r in with_action.groupBy("__a").agg(
                    F.count(F.lit(1)).alias("n")
                ).collect()
            }
            result = {
                "op": "merge_into",
                "rows_updated": counts.get("U", 0),
                "rows_deleted": counts.get("D", 0),
                "rows_inserted": counts.get("I", 0),
                "buckets_rewritten": 0,
            }
            if not (counts.get("U") or counts.get("D") or counts.get("I")):
                return result

            def out_col(c: str) -> Column:
                base = F.col(c)
                dt = current.schema[c].dataType
                if c in keys:
                    ins = base  # join key: already coalesced by the ON list
                elif c == LSN_COL:
                    src_lsn = (
                        F.col(f"src.{LSN_COL}").cast(dt)
                        if LSN_COL in src_payload else F.lit(0).cast(dt)
                    )
                    # replaced marker keeps its shield; fresh key takes src lsn
                    ins = F.greatest(
                        F.coalesce(src_lsn, F.lit(0).cast(dt)),
                        F.coalesce(base, F.lit(0).cast(dt)),
                    )
                elif c == TOMBSTONE_COL:
                    ins = F.lit(False).cast(dt)
                elif c in src_payload:
                    ins = F.col(f"src.{c}").cast(dt)
                else:
                    ins = F.lit(None).cast(dt)
                col = F.when(F.col("__a") == "I", ins)
                if matched_update is not None and c in matched_update:
                    # cast INSIDE the branch — see _rewrite_where on why letting
                    # when/otherwise unify types would corrupt unmatched rows
                    col = col.when(
                        F.col("__a") == "U", matched_update[c].cast(dt)
                    )
                return col.otherwise(base).alias(c)

            out = with_action.filter(F.col("__a").isin("U", "I", "C")).select(
                F.col(BUCKET_COL), *[out_col(c) for c in cur_cols]
            )
            self._rewrite_buckets(
                manifest,
                dirty,
                out.repartition(len(dirty), F.col(BUCKET_COL)),
                {
                    "op": "merge_into",
                    "rows_updated": result["rows_updated"],
                    "rows_deleted": result["rows_deleted"],
                    "rows_inserted": result["rows_inserted"],
                    "rewritten_buckets": len(dirty),
                },
            )
            result["buckets_rewritten"] = len(dirty)
            return result
        finally:
            with_action.unpersist()

    def state_digest(
        self, version: int | None = None, ref: str | None = None
    ) -> str:
        """Order-insensitive sha256 digest of the LIVE table state — the
        "identical final state, sha256-verified" check as one distributed
        aggregation instead of a row collect.

        Per row: sha256 over the canonical concat of every column (sorted
        by name, NULL distinguished from empty string by a sentinel). The
        digest folds the per-row hashes with addition — order-insensitive,
        so it is invariant to partitioning, task count, and epoch split:
        two replays of the same log at N and 4N cores (or serial vs
        pipelined) must produce byte-identical digests. The row hashes are
        summed as two 60-bit halves in decimal(38,0) (exact at any scale
        Spark can hold; no float, no overflow below ~10^20 rows), then the
        ``count-sumA-sumB`` triple is itself sha256'd into one token.

        Runs as a map-only scan plus a single partial-aggregate — no
        shuffle of row data, nothing collected but three numbers — so
        verifying a 100 TB replay costs one pass at full cluster width.
        """
        import hashlib

        df = self.read(version=version, ref=ref)
        row = digest_components(df).first()
        token = (
            f"{row['n']}-{row['digest_a']}-{row['digest_b']}-"
            f"{','.join(sorted(df.columns))}"
        )
        return hashlib.sha256(token.encode()).hexdigest()

    def remove_orphans(self, grace_seconds: float = 86400.0) -> dict:
        """Delete data version dirs no manifest references (Iceberg
        ``remove_orphan_files`` analogue).

        A crash between the parquet write and the manifest commit — or an
        abandoned write-audit-publish branch whose manifests were expired —
        leaves a ``data/v{N}`` dir nothing points at. Those dirs are
        invisible to readers but hold real bytes forever. This walks every
        manifest still present (main ancestry, branches, tags — all of
        them), unions the data versions they reference (bases + pending
        merge-on-read deltas), and removes unreferenced dirs older than
        ``grace_seconds``. The grace window is what makes it safe to run
        concurrently with a writer: an in-flight merge's freshly written dir
        is unreferenced only for the instant before its manifest commits,
        and its mtime is new.

        Returns ``{"removed": [version, …], "kept_young": n}``.
        """
        manifest_dir = os.path.join(self.root, "manifests")
        live: set[int] = set()
        for name in os.listdir(manifest_dir):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            m = self.manifest(int(name[1:-5]))
            live.update(int(v) for v in m["buckets"].values())
            for vs in m.get("deltas", {}).values():
                live.update(int(v) for v in vs)
        data_dir = os.path.join(self.root, "data")
        now = time.time()
        removed, kept_young = [], 0
        for name in sorted(os.listdir(data_dir)) if os.path.isdir(data_dir) else []:
            if not name.startswith("v") or not name[1:].isdigit():
                continue
            v = int(name[1:])
            if v in live:
                continue
            path = os.path.join(data_dir, name)
            if now - os.path.getmtime(path) < grace_seconds:
                kept_young += 1
                continue
            shutil.rmtree(path)
            removed.append(v)
        return {"removed": removed, "kept_young": kept_young}


def iceberg_merge_sql(table: str, source_view: str, keys: list[str], columns: list[str]) -> str:
    """The equivalent MERGE for a real Iceberg catalog (cluster deployment).

    On a cluster with iceberg-spark-runtime on the classpath, ``foreachBatch``
    runs this statement instead of :meth:`LakeTable.merge`; the epoch guard
    moves into the Iceberg snapshot summary (``snapshot-property.epoch-id``).
    Delete markers are retained (``_tombstone`` column) and filtered by the
    reading view, mirroring :meth:`LakeTable.merge`'s order-insensitive
    semantics; a periodic ``purge`` job deletes markers past the retention
    LSN (Kafka's ``delete.retention.ms`` analogue).
    """
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    allcols = columns + ["_tombstone", "_lsn"]
    sets = ", ".join(f"t.{c} = s.{c}" for c in allcols)
    cols = ", ".join(keys + allcols)
    svals = ", ".join(f"s.{c}" for c in keys + allcols)
    return (
        f"MERGE INTO {table} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND s._lsn >= t._lsn THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({svals})"
    )
