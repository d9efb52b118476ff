"""Manifest-based transactional table — the Delta-core protocol on plain
parquet (ROADMAP #3: "transactional MERGE if a Delta-equivalent becomes
available"; none is installable here, so the engine carries the minimal
correct protocol itself).

The reference mutates BigQuery tables, which gives it snapshot-isolated
readers and atomic MERGE for free (funnel_live.py:153-174,
consumo_detalle.py:317-340). Plain parquet directories have neither:
`merge_upsert`'s directory rename-swap is atomic on POSIX but (a) leaves a
window where a table LISTING races the swap on object stores that fake
renames with copy+delete, and (b) supports no time travel. The txlog fixes
both with the trick every modern table format uses:

* data files are IMMUTABLE, uuid-named, only ever ADDED under ``data/``;
* a table STATE is a manifest (``_txlog/v{N}.json``) listing exactly the
  data files of that version — never a directory listing;
* a commit writes its data files first, then claims version N+1 by
  atomically LINKING a fully-written temp manifest to ``v{N+1}.json``
  (`os.link` fails with EEXIST if a concurrent writer won — optimistic
  concurrency, loser raises, nothing is corrupted);
* readers resolve max(N) once and read only that manifest's files — a
  reader mid-scan keeps its snapshot regardless of later commits, and a
  crashed writer leaves only invisible orphan files.

At 100 TB the manifest is the only metadata hot spot (KBs per commit);
data moves are zero — exactly why this layout is object-store-safe where
rename-swaps are not. Orphan cleanup (`vacuum`) uses the manifests as the
root set, mirroring Delta's VACUUM.

The surface is what the engine calls: snapshot reads (`read`, the
stats-pruned `read_in`), fenced `append`/`overwrite`, `merge` (K4),
`replace_where`/`replace_partitions` (the transactional K3),
`optimize_compact`, `vacuum`, tags as vacuum GC roots, and the
append-delta change feed (`changes`).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class CommitConflict(RuntimeError):
    """Another writer claimed the version first; retry on fresh state."""


class NonIncrementalHistory(RuntimeError):
    """changes() crossed a version that rewrote data (merge /
    replace_where / overwrite of a non-empty table): a file-level diff
    cannot express row-level deltas there — re-read the snapshot."""


class TxTable:
    """``stats_cols`` opts into Delta-style PER-FILE min/max stats in the
    manifest (read once from each new file's parquet footer at commit
    time — no extra scan): `read_in` then prunes whole files no requested
    value can be in, and `replace_where` / `replace_partitions` rewrite
    ONLY files whose stats overlap the replaced window — the
    transactional K3 whose cost is bounded by the touched window, not the
    table."""

    def __init__(self, path: str, stats_cols: list[str] | None = None) -> None:
        self.path = path
        self.stats_cols = stats_cols or []
        self.log_dir = os.path.join(path, "_txlog")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- state ------------------------------------------------------------
    def _versions(self) -> list[int]:
        out = []
        for f in os.listdir(self.log_dir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    out.append(int(f[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def version(self) -> int:
        """Latest committed version; -1 for an empty table."""
        vs = self._versions()
        return vs[-1] if vs else -1

    def _manifest(self, v: int) -> dict:
        with open(os.path.join(self.log_dir, f"v{v}.json")) as fh:
            return json.load(fh)

    def _head(self) -> tuple[int, dict]:
        """The latest version and its manifest ({} for an empty table),
        read ONCE per commit: the txn fence check, the append schema gate
        and `_claim`'s fence carry-forward all consult this one snapshot,
        so a commit lists the log once and parses its parent once."""
        v = self.version()
        return v, (self._manifest(v) if v >= 0 else {})

    # -- read -------------------------------------------------------------
    @staticmethod
    def _names(entries: list) -> list[str]:
        return [e["name"] if isinstance(e, dict) else e for e in entries]

    def _read_entries(self, spark: SparkSession, entries: list, schema_json: str) -> DataFrame:
        schema = StructType.fromJson(json.loads(schema_json))
        if not entries:
            return spark.createDataFrame([], schema)
        # the MANIFEST's schema governs the scan — without it a multi-file
        # snapshot whose appends drifted would silently adopt whichever
        # file the reader samples first (missing columns read as NULL,
        # extra columns are dropped — deterministic either way)
        return spark.read.schema(schema).parquet(
            *[os.path.join(self.data_dir, n) for n in self._names(entries)]
        )

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read: the file set comes from ONE manifest (pinned if
        ``version`` is given — time travel), never a directory listing,
        so concurrent commits and orphan files are invisible."""
        v = self.version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"txlog table {self.path!r} has no commits")
        m = self._manifest(v)
        return self._read_entries(spark, m["files"], m["schema"])

    @staticmethod
    def _overlaps(entry, col: str, lo, hi) -> bool:
        """True unless the file's recorded stats PROVE [lo, hi] misses it
        (no stats ⇒ must read — skipping is only ever an optimization)."""
        stats = entry.get("stats", {}) if isinstance(entry, dict) else {}
        if col not in stats or stats[col] is None:
            return True
        mn, mx = stats[col]
        try:
            return not (mx < lo or mn > hi)
        except TypeError:
            # stats and bounds of incomparable types (e.g. a stats_col
            # whose type changed between appends) — must read
            return True

    def read_in(
        self, spark: SparkSession, col: str, values, version: int | None = None
    ) -> DataFrame:
        """Stats-pruned snapshot read of ``col IN values``, built for
        serve paths whose qualifying keys are known and BOUNDED (the ANN
        probe: the distinct probed cells of a query batch, ≤ k ids): a
        file is scanned only when its recorded min/max admits at least
        one of the values, so a range-clustered table (optimize_compact's
        cluster_col) serves a probe from the few files covering its
        cells. Exact: the residual IN filter still applies per row; a
        file without stats is always read. The membership test is
        O(files × log values) — a bisect over the sorted value list per
        file (admit iff the smallest value ≥ min is ≤ max: identical
        verdict to probing every value against the range) — and the
        residual filter is ONE parsed IN expression (``in_literals``),
        not a per-value py4j literal (r14: a 20k-value ``isin`` spent
        ~15 s constructing literals on the driver)."""
        import bisect

        from etl_python_airflow_bigquery_spark.functions import in_literals

        v = self.version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"txlog table {self.path!r} has no commits")
        m = self._manifest(v)
        vals = sorted(set(values))
        if not vals:
            return self._read_entries(spark, [], m["schema"])

        def admite(e) -> bool:
            stats = e.get("stats", {}) if isinstance(e, dict) else {}
            if col not in stats or stats[col] is None:
                return True
            mn, mx = stats[col]
            try:
                i = bisect.bisect_left(vals, mn)
                return i < len(vals) and not (vals[i] > mx)
            except TypeError:
                return True  # incomparable types — must read

        hits = [e for e in m["files"] if admite(e)]
        df = self._read_entries(spark, hits, m["schema"])
        return df.where(in_literals(col, vals))

    # -- write ------------------------------------------------------------
    def _write_files(self, df: DataFrame) -> list[dict]:
        """Materialize df as immutable uuid-named parquet files in data/,
        harvesting per-file min/max for ``stats_cols`` from the footers
        just written (row-group stats roll up; no data re-read). Files
        become VISIBLE only when a manifest referencing them lands."""
        tmp = os.path.join(self.path, f"_stage_{uuid.uuid4().hex[:8]}")
        df.write.parquet(tmp)
        out = []
        for f in os.listdir(tmp):
            if not f.endswith(".parquet"):
                continue
            src = os.path.join(tmp, f)
            stats = self._footer_stats(src) if self.stats_cols else {}
            name = f"part-{uuid.uuid4().hex}.parquet"
            os.rename(src, os.path.join(self.data_dir, name))
            out.append({"name": name, "stats": stats})
        shutil.rmtree(tmp)
        return out

    def _footer_stats(self, path: str) -> dict:
        md = _pq.ParquetFile(path).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        out = {}
        for col in self.stats_cols:
            if col not in idx:
                out[col] = None
                continue
            mns, mxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    break
                mns.append(st.min)
                mxs.append(st.max)
            else:
                if mns:
                    mn, mx = min(mns), max(mxs)
                    # record stats ONLY for natively-JSON-comparable types:
                    # stringifying a date/timestamp/decimal min/max would
                    # later compare str-vs-native in _overlaps (TypeError
                    # or silent mis-pruning). Unsupported types degrade to
                    # "no stats" = never skipped — always correct.
                    if (
                        type(mn) is type(mx)
                        and isinstance(mn, (int, float, str))
                        and not isinstance(mn, bool)
                    ):
                        out[col] = [mn, mx]
                        continue
            out[col] = None
        return out

    def _claim(self, manifest: dict, expected_parent: int, parent: dict) -> int:
        """Atomically claim version expected_parent+1: write the full
        manifest to a temp name, then hard-link it to the version file —
        link fails with EEXIST if a concurrent writer got there first
        (their data files and ours are disjoint, so losing is clean).

        The application-transaction fence (``txn``: app_id -> last
        applied version, Delta's txnAppId/txnVersion pattern) is carried
        forward from the parent manifest and merged with any entry the
        new commit contributes — so a compaction, merge, or overwrite in
        between never erases a streaming writer's idempotency marker.
        The merge is per-app ``max()``, never overwrite: fences are
        monotonic by contract, and a writer whose fence check read an
        older snapshot could otherwise claim the next version carrying a
        LOWER fence for the same app_id, regressing it and reopening the
        double-apply window the fence exists to close.

        ``parent`` is the manifest of ``expected_parent`` the committing
        call read in `_head` ({} for an empty table) — never re-read."""
        v = expected_parent + 1
        txn = dict(parent.get("txn", {}))
        for app_id, new_v in manifest.get("txn", {}).items():
            old_v = txn.get(app_id)
            txn[app_id] = new_v if old_v is None else max(old_v, new_v)
        payload = {
            **manifest,
            "version": v,
            "parent": expected_parent,
            # wall-clock commit instant, informational only — ordering
            # authority is always the version number, never the clock
            "committed_at": time.time(),
        }
        if txn:
            payload["txn"] = txn
        tmp = os.path.join(self.log_dir, f"_tmp_{uuid.uuid4().hex[:8]}.json")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        final = os.path.join(self.log_dir, f"v{v}.json")
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise CommitConflict(
                f"version {v} of {self.path!r} was committed concurrently"
            ) from exc
        finally:
            os.unlink(tmp)
        return v

    @staticmethod
    def _fenced(head: dict, txn: tuple[str, int] | None) -> bool:
        """True when ``head`` already records ``txn=(app_id, version)``
        or a later version for that app — the write is a replay."""
        return txn is not None and head.get("txn", {}).get(txn[0], -1) >= txn[1]

    def txn_version(self, app_id: str) -> int:
        """Last version this application id recorded via ``txn=`` (-1 if
        never): the read half of the txnAppId/txnVersion idempotency
        fence. One manifest read — no data files touched."""
        _, head = self._head()
        return int(head.get("txn", {}).get(app_id, -1))

    def overwrite(
        self,
        df: DataFrame,
        extra: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """K2 with snapshot isolation: old files stay on disk (prior
        versions remain readable) — only the manifest flips. ``extra``
        keys land IN the manifest, so application checkpoints (e.g. the
        upstream version an incremental refresh consumed) commit
        atomically with the data they describe.

        ``txn=(app_id, version)``: application-transaction fence. If the
        table has already recorded ``version`` (or later) for ``app_id``,
        the write is SKIPPED and the current table version returned —
        exactly-once semantics for foreachBatch replays, where a crash
        between the manifest flip and the streaming checkpoint commit
        makes the stream re-deliver an already-applied batch."""
        parent, head = self._head()
        if self._fenced(head, txn):
            return parent
        m = {
            "files": self._write_files(df),
            "op": "overwrite",
            "schema": df.schema.json(),
        }
        if extra:
            m.update(extra)
        if txn is not None:
            m["txn"] = {txn[0]: txn[1]}
        return self._claim(m, parent, head)

    def append(
        self, df: DataFrame, txn: tuple[str, int] | None = None
    ) -> int:
        """K1: new files added to the parent version's set. COLUMN
        add/remove is allowed (the manifest schema governs the scan:
        files missing a column read NULL, deterministic — pinned by
        test_read_uses_manifest_schema_after_drifted_append), but a TYPE
        change on a shared column is rejected loudly: the parquet reader
        cannot coerce a physical INT64 file under an int manifest, so
        such an append would poison every later read of the older
        files.

        RENAME-shaped evolution is also rejected loudly: an append that
        simultaneously drops column X and adds column Y of the same type
        is indistinguishable from a rename, and silently treating a
        rename as drop+add breaks ``changes()`` consumers mid-stream
        (old rows read NULL under the new name with no signal). There is
        no mapped-rename support — to rename, ``overwrite`` with the new
        schema (the change feed already flags that as NonIncremental);
        to genuinely drop one column and add an unrelated same-typed
        one, do it in two appends so the intent is unambiguous.

        ``txn=(app_id, version)``: idempotency fence — an append whose
        (app_id, version) the table has already recorded is skipped (see
        ``overwrite``); a committed append records it in the manifest so
        a foreachBatch replay after a crash never double-appends."""
        parent, head = self._head()
        if self._fenced(head, txn):
            return parent
        self._check_append_evolution(head, df.schema)
        new = self._write_files(df)
        m = {
            "files": head.get("files", []) + new,
            "op": "append",
            "schema": df.schema.json(),
        }
        if txn is not None:
            m["txn"] = {txn[0]: txn[1]}
        return self._claim(m, parent, head)

    def _check_append_evolution(self, head: dict, new_schema) -> None:
        """Append-shaped schema-evolution gate against the parent
        manifest ``head``: column add/remove is legal, a TYPE change on a
        shared column or a RENAME-shaped drop+add is refused loudly —
        see ``append``'s docstring for the full contract."""
        if not head:
            return
        old_types = {
            f.name: f.dataType.simpleString()
            for f in StructType.fromJson(json.loads(head["schema"])).fields
        }
        new_types = {
            f.name: f.dataType.simpleString() for f in new_schema.fields
        }
        clash = [
            f"{n}: {old_types[n]} -> {t}"
            for n, t in new_types.items()
            if n in old_types and t != old_types[n]
        ]
        if clash:
            raise ValueError(
                f"append type drift on {self.path!r} ({'; '.join(clash)}):"
                " cast the batch or use overwrite/merge for type changes"
            )
        dropped = {n: t for n, t in old_types.items() if n not in new_types}
        added = {n: t for n, t in new_types.items() if n not in old_types}
        renames = [
            f"{d} -> {a}"
            for d, dt in dropped.items()
            for a, at in added.items()
            if dt == at
        ]
        if renames:
            raise ValueError(
                f"rename-shaped evolution on {self.path!r} "
                f"({'; '.join(renames)}): one append drops a column and "
                "adds a same-typed one — ambiguous with a rename, which "
                "would silently break changes() consumers. Use overwrite "
                "for renames, or two separate appends for an unrelated "
                "drop+add"
            )

    def merge(self, spark: SparkSession, staging: DataFrame, key_cols: list[str]) -> int:
        """K4 MERGE with real snapshot isolation: reconcile against the
        snapshot read at start; if another commit lands in between, the
        version claim CONFLICTS instead of silently losing their rows —
        the lost-update window `merge_upsert`'s lockfile only guards
        becomes impossible by construction. Upsert semantics: a staging
        row replaces every target row with its key; unmatched rows on
        either side are kept."""
        parent, head = self._head()
        if parent >= 0:
            target = self._read_entries(spark, head["files"], head["schema"])
            kept = target.join(
                staging.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            merged = kept.unionByName(staging)
        else:
            merged = staging
        files = self._write_files(merged)
        return self._claim(
            {"files": files, "op": "merge", "schema": merged.schema.json()},
            parent,
            head,
        )

    def replace_where(
        self, spark: SparkSession, df: DataFrame, col: str, lo, hi
    ) -> int:
        """Transactional K3 (Delta ``replaceWhere``): atomically delete
        ``lo <= col <= hi`` and insert ``df`` — as ONE manifest flip.
        Only files whose stats OVERLAP the window are rewritten (their
        out-of-window survivors re-land in fresh files); every other
        file carries into the new version untouched, so the commit's
        write cost is bounded by the touched window, not the table.
        Incoming rows outside the window would silently survive the next
        refresh of a disjoint window, so they are rejected loudly (a
        real raise, not an assert — data-integrity contracts must not
        vanish under ``python -O``) — same contract as
        writes.refresh_window's refresh_predicate. NULL-keyed rows
        follow SQL DELETE semantics: a NULL predicate never deletes, so
        existing NULL rows SURVIVE the rewrite; for the same reason an
        incoming NULL row counts as out-of-window (it could never be
        replaced by a later refresh) and is rejected."""
        in_window = F.coalesce(F.col(col).between(lo, hi), F.lit(False))
        n_bad = df.where(~in_window).count()
        if n_bad:
            raise ValueError(
                f"replace_where: {n_bad} incoming rows fall outside "
                f"[{lo}, {hi}] on {col!r} (NULLs count as outside)"
            )
        parent, head = self._head()
        entries = head.get("files", [])
        touched = [e for e in entries if self._overlaps(e, col, lo, hi)]
        untouched = [e for e in entries if not self._overlaps(e, col, lo, hi)]
        new = self._write_files(df)
        if touched:
            survivors = self._read_entries(
                spark, touched, df.schema.json()
            ).where(~in_window)
            new += self._write_files(survivors)
        return self._claim(
            {
                "files": untouched + new,
                "op": "replace_where",
                "schema": df.schema.json(),
            },
            parent,
            head,
        )

    def replace_partitions(
        self,
        spark: SparkSession,
        df: DataFrame,
        partition_cols: list[str],
        refresh_predicate=None,
    ) -> int:
        """Transactional K3 in its PARTITION-VALUE form (the writes.py
        ``refresh_window`` semantics as one manifest flip): delete every
        row whose ``partition_cols`` tuple appears in ``df`` — within
        those tuples, only rows satisfying ``refresh_predicate`` when
        given (the reference's secondary DELETE predicate) — and insert
        ``df``. Files whose stats provably miss every incoming value
        carry over untouched; survivors of overlapping files re-land in
        fresh files. Readers keep their snapshot; a concurrent commit
        turns into a CommitConflict instead of a lost update."""
        if refresh_predicate is not None:
            pred_true = F.coalesce(refresh_predicate, F.lit(False))
            n_bad = df.where(~pred_true).count()
            if n_bad:
                raise ValueError(
                    f"replace_partitions: {n_bad} incoming rows violate "
                    "refresh_predicate (NULLs count as violating) — they "
                    "would duplicate against the preserved slice"
                )
        parent, head = self._head()
        entries = head.get("files", [])
        tuples = df.select(*partition_cols).distinct()
        values = tuples.collect()  # touched-partition list: small by K3 contract

        def touched(entry) -> bool:
            # conservative: a file may hold a tuple iff EVERY column's
            # stats admit that column's value for SOME incoming tuple
            return any(
                all(self._overlaps(entry, c, row[c], row[c]) for c in partition_cols)
                for row in values
            )

        hit = [e for e in entries if touched(e)]
        untouched = [e for e in entries if not touched(e)]
        new = self._write_files(df)
        if hit:
            old = self._read_entries(spark, hit, df.schema.json())
            in_window = F.lit(False)
            for row in values:
                cond = F.lit(True)
                for c in partition_cols:
                    cond = cond & F.col(c).eqNullSafe(F.lit(row[c]))
                in_window = in_window | cond
            if refresh_predicate is not None:
                in_window = in_window & F.coalesce(refresh_predicate, F.lit(False))
            survivors = old.where(~in_window)
            new += self._write_files(survivors)
        return self._claim(
            {
                "files": untouched + new,
                "op": "replace_partitions",
                "schema": df.schema.json(),
            },
            parent,
            head,
        )

    # -- maintenance ------------------------------------------------------
    def optimize_compact(
        self,
        spark: SparkSession,
        small_bytes: int = 8 * 1024 * 1024,
        n_files: int = 1,
        cluster_col: str | None = None,
    ) -> int:
        """Small-file compaction (Delta OPTIMIZE's bin-packing half):
        streaming appends land one small file per micro-batch, and a
        year of hourly commits is 8 760 files whose per-file overhead
        (footer reads, task scheduling, manifest size) dominates the
        scan. Files under ``small_bytes`` are rewritten together into
        ``n_files`` and committed as one manifest flip; files already
        big CARRY OVER untouched — the rewrite cost is bounded by the
        small tail, not the table. Data is byte-identical; prior
        versions stay readable; returns the new version (or the current
        one if ≤1 small file exists — nothing to compact).

        ``cluster_col``: range-cluster the rewrite on this column
        (Delta OPTIMIZE's ZORDER half, one-dimensional) so each output
        file covers a contiguous value range and the per-file min/max
        stats stay TIGHT — without it a coalesce interleaves the small
        files' rows and a stats-pruned scan (read_in) degrades to
        reading every compacted file. The ANN posting table compacts
        with cluster_col='celda' for exactly this reason."""
        parent, m = self._head()
        if parent < 0:
            raise FileNotFoundError(f"txlog table {self.path!r} has no commits")

        sized = [
            (e, os.path.getsize(os.path.join(self.data_dir, self._names([e])[0])))
            for e in m["files"]
        ]  # stat each file once (and at one point in time)
        small = [e for e, s in sized if s < small_bytes]
        big = [e for e, s in sized if s >= small_bytes]
        if len(small) <= 1:
            return parent
        df = self._read_entries(spark, small, m["schema"])
        if cluster_col is None:
            packed = df.coalesce(n_files)
        else:
            packed = df.repartitionByRange(n_files, cluster_col)
        new = self._write_files(packed)
        return self._claim(
            {"files": big + new, "op": "optimize_compact", "schema": m["schema"]},
            parent,
            m,
        )

    # -- tags: named refs (Iceberg-style), vacuum GC roots ------------------
    def _tag_path(self, name: str) -> str:
        return os.path.join(self.log_dir, f"tag_{name}.json")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a NAMED, immutable ref to a version (Iceberg tag
        semantics): ``tags()`` resolves it forever, and ``vacuum``
        treats tagged versions as GC ROOTS — their manifest and data
        files survive any retention policy until the tag is deleted.
        That is the index-pinning contract: a serve pinned to v12 needs
        v12 readable after the nightly vacuum, not best-effort. Tags are
        immutable (re-pointing is delete + create, both explicit);
        duplicate names and unknown versions are refused loudly."""
        if not name.isidentifier():
            raise ValueError(f"tag name must be an identifier: {name!r}")
        v = self.version() if version is None else version
        if v < 0 or not os.path.exists(os.path.join(self.log_dir, f"v{v}.json")):
            raise ValueError(f"cannot tag unknown version {v} of {self.path!r}")
        tmp = os.path.join(self.log_dir, f"_tmp_{uuid.uuid4().hex[:8]}.json")
        with open(tmp, "w") as fh:
            json.dump({"name": name, "version": v, "created_at": time.time()}, fh)
        try:
            os.link(tmp, self._tag_path(name))
        except FileExistsError as exc:
            raise ValueError(
                f"tag {name!r} already exists on {self.path!r} "
                "(tags are immutable — delete_tag first to re-point)"
            ) from exc
        finally:
            os.unlink(tmp)
        return v

    def tags(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for f in os.listdir(self.log_dir):
            if f.startswith("tag_") and f.endswith(".json"):
                try:
                    with open(os.path.join(self.log_dir, f)) as fh:
                        t = json.load(fh)
                except FileNotFoundError:
                    continue  # concurrent delete_tag between listdir & open
                out[t["name"]] = t["version"]
        return out

    def delete_tag(self, name: str) -> None:
        try:
            os.unlink(self._tag_path(name))
        except FileNotFoundError as exc:
            raise ValueError(
                f"no such tag {name!r} on {self.path!r}"
            ) from exc

    def vacuum(self, keep_versions: int = 1, retention_s: float = 3600.0) -> int:
        """Drop manifests older than the last ``keep_versions`` and every
        data file no surviving manifest references (crashed-writer
        orphans included). Returns the number of files removed.

        ``retention_s`` is the Delta-style grace window: an unreferenced
        file younger than it is SKIPPED, because a concurrent writer
        between its ``_write_files`` and ``_claim`` has staged files that
        no manifest references YET — deleting them would commit a
        manifest pointing at missing files. Pass ``retention_s=0`` only
        when no in-flight writers exist (e.g. tests).

        TAGGED versions are GC roots beyond the retention window: their
        manifest and files survive until the tag is deleted."""
        vs = self._versions()
        keep = set(vs[-keep_versions:] if keep_versions > 0 else vs)
        keep.update(v for v in self.tags().values() if v in vs)
        live: set[str] = set()
        for v in keep:
            live.update(self._names(self._manifest(v)["files"]))
        removed = 0
        for v in vs:
            if v not in keep:
                os.unlink(os.path.join(self.log_dir, f"v{v}.json"))
        cutoff = time.time() - retention_s
        for f in os.listdir(self.data_dir):
            if f.endswith(".parquet") and f not in live:
                p = os.path.join(self.data_dir, f)
                try:
                    if os.path.getmtime(p) > cutoff:
                        continue  # possibly staged by an in-flight commit
                    os.unlink(p)
                except FileNotFoundError:
                    continue  # a concurrent vacuum/writer raced us
                removed += 1
        return removed

    # -- change feed ------------------------------------------------------
    def changes(
        self,
        spark: SparkSession,
        since_version: int,
        until_version: int | None = None,
    ) -> DataFrame:
        """INCREMENTAL CONSUMPTION (the Delta change-feed shape for
        append-flavored tables): rows committed after ``since_version``
        (exclusive) up to ``until_version`` (inclusive, default latest),
        each tagged with its ``_commit_version`` — a downstream job
        checkpoints the last version it processed and reads only the
        delta, never rescanning the table.

        Contract, stated instead of guessed: versions whose op is
        ``append`` contribute exactly their NEW files (rows = the
        appended batch); ``optimize_compact`` is a data-preserving
        rewrite and contributes nothing (its rewritten files are tracked
        so later appends still diff correctly — no double counting
        through a compaction); any data-REWRITING op (``merge``,
        ``replace_where``, ``replace_partitions``, ``overwrite``) raises
        :class:`NonIncrementalHistory` unless its parent file set was
        empty (a first load is all-inserts whatever its op). Cost:
        manifest walking is KB-sized metadata; the scan touches only the
        delta files."""
        until = self.version() if until_version is None else until_version
        if since_version > until:
            raise ValueError(
                f"changes: since={since_version} is past until={until}"
            )
        have: set[str] = set()
        if since_version >= 0:
            have = set(self._names(self._manifest(since_version)["files"]))
        parts: list[DataFrame] = []
        schema_json = None
        for v in range(max(since_version + 1, 0), until + 1):
            m = self._manifest(v)
            schema_json = m["schema"]
            op = m.get("op", "append")
            names_v = self._names(m["files"])
            if op == "optimize_compact":
                have = set(names_v)
                continue
            if op != "append" and have:
                raise NonIncrementalHistory(
                    f"version {v} op={op!r} rewrote data; read the "
                    f"snapshot (read(version={v})) and restart the feed"
                )
            new = [e for e in m["files"] if (e["name"] if isinstance(e, dict) else e) not in have]
            if new:
                parts.append(
                    self._read_entries(spark, new, m["schema"]).withColumn(
                        "_commit_version", F.lit(v).cast("long")
                    )
                )
            have = set(names_v)
        if not parts:
            if schema_json is None:
                if until >= 0:
                    schema_json = self._manifest(until)["schema"]
                else:
                    raise FileNotFoundError(
                        f"txlog table {self.path!r} has no commits"
                    )
            empty = self._read_entries(spark, [], schema_json)
            return empty.withColumn("_commit_version", F.lit(None).cast("long"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
