"""Sinks: a parquet-backed table store with INSERT / UPSERT semantics,
the audit-CSV sink for rejected rows, and a JDBC writer.

Replaces the reference's PostgREST sink (etl/load.py:260-346 — 100-row
JSON batches, 0.5 s pauses, retry/backoff ≈ 200 rows/s ceiling) with
parquet writes: Spark's task retries subsume the retry loop, and
throughput scales with executors instead of an HTTP rate limit.

UPSERT (reference etl/load.py:283 — insert-or-update on PK) without a
Delta/Iceberg jar in this image is emulated as anti-join + union +
atomic directory swap: target rows whose PK collides with incoming are
replaced. On a real deployment this is one ``MERGE INTO`` against Delta/
Iceberg — the surrounding plan (dedup → integrity → merge) is identical.
The JDBC variant (the reference's actual Postgres target) is
``write_jdbc`` below: append straight to the table, or stage + the
``jdbc_upsert_sql`` MERGE statement for upsert.

Execution discipline: each sink runs the incoming plan EXACTLY ONCE —
the frame is staged to parquet first, and its row count comes from an
``Observation`` on that one staging write (no job re-reads the staged
files to count them). Re-reads of the stage pass the frame's own schema,
so no schema-inference job runs either.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Test seam for the crash-consistency journal: when set, called with a
# step label at every journaled-mutation step boundary. A test hook that
# raises a BaseException subclass simulates a process kill BETWEEN steps
# (BaseException skips the ``except Exception`` rollback paths exactly
# like a real kill would; the journal recovery on next access must then
# restore a consistent table). Never set in production.
_CRASH_HOOK = None


def _crash_point(label: str) -> None:
    if _CRASH_HOOK is not None:
        _CRASH_HOOK(label)


class ParquetStore:
    """Directory-per-table parquet 'database' used by the pipeline and
    its tests. At scale each table is a partitioned object-store prefix
    (transactional tables date-partitioned so incremental filters prune)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        self._recover(table)
        return os.path.isdir(self.path(table))

    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        self._recover(table)
        if os.path.isdir(self.path(table)):
            reader = self.spark.read
            if schema is not None:
                # an explicit schema also makes a validly-EMPTY table
                # readable (e.g. after delete_rows removed every row —
                # no parquet files left to infer from)
                reader = reader.schema(schema)
            return reader.parquet(self.path(table))
        if schema is None:
            raise FileNotFoundError(table)
        return self.spark.createDataFrame([], schema)

    def _stage(self, df: DataFrame, table: str) -> tuple[str, int]:
        """Materialize ``df`` once into a staging dir; return (dir, n).
        ``n`` is observed on the staging write itself — no further job
        runs to count the staged rows. An empty frame still stages one
        schema-only part file; callers append nothing when ``n`` is 0."""
        stage = tempfile.mkdtemp(dir=self.root, prefix=f".{table}_stage_")
        staged = Observation()
        df.observe(staged, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(stage)
        return stage, staged.get["n"]

    # ---- crash-consistency journal --------------------------------
    # Every multi-step directory mutation (whole-table swap, partition
    # swap, append file moves) writes a JOURNAL file into the store
    # root before its first rename and removes it after cleanup. An
    # EXCEPTION mid-mutation is rolled back in-process (the except
    # blocks below); a PROCESS KILL mid-mutation leaves the journal
    # behind, and ``_recover`` — invoked from every public read/write
    # entry point — deterministically rolls the mutation back (journal
    # not marked committed: every pre-state copy is still on disk as a
    # ``.__bak``/untouched dir, so restore it) or forward (marked
    # committed: the data renames all landed; only backup cleanup
    # remained). Without this, a kill between the backup-rename and the
    # move-in left table rows invisible to readers (dot-prefixed backup
    # dirs are hidden from Spark) with no automatic repair.
    # Cost: one root listdir per public entry call; single-writer
    # discipline assumed (the store is not concurrent-safe, as before).

    @staticmethod
    def _check_meta_name(name: str) -> None:
        """Meta files must be underscore-prefixed (parquet readers skip
        '_'/'.'-prefixed names — anything else becomes an unreadable
        'footer' that breaks every later scan) and must not escape the
        table directory. Enforced for write_meta AND
        overwrite(meta_files=...) — both land files next to data."""
        if not name.startswith("_") or "/" in name or os.sep in name:
            raise ValueError(
                f"meta file name must start with '_' (so parquet readers "
                f"ignore it) and contain no path separators, got {name!r}"
            )

    def vacuum(self) -> list[str]:
        """Reclaim orphaned dot-prefixed staging/backup dirs (and stray
        half-written journal .tmp files) left in the store ROOT by
        process kills: partial stage writes happen BEFORE any journal
        exists, so crash recovery cannot know about them, and they
        accumulate across crashed runs. Like Delta/Iceberg VACUUM this
        is an EXPLICIT maintenance call with the same precondition: run
        it only when no writer is active on the store — a live
        mutation's stage dir is indistinguishable from an orphan.
        Journals and the dirs they reference are preserved (those
        belong to ``_recover``). Returns the removed names."""
        if not os.path.isdir(self.root):
            return []
        names = os.listdir(self.root)
        live: set[str] = set()
        journaled_tables: set[str] = set()
        corrupt_owners: set[str] = set()
        for name in names:
            if name.startswith(".__journal_") and name.endswith(".json"):
                try:
                    with open(os.path.join(self.root, name)) as fh:
                        payload = json.load(fh)
                except (OSError, ValueError):
                    # corrupt/unreadable journal: its table must still
                    # be shielded (repair belongs to _recover, which
                    # raises loudly on this table's next access). The
                    # filename is `.__journal_{table}_{token}` and every
                    # token is a mkdtemp basename starting `.{table}_`,
                    # so the owner is the prefix before the first `_.`;
                    # with no `_.` (foreign file), shield the whole
                    # remainder — over-shielding only defers cleanup.
                    # The owner enters BOTH shields: journaled_tables
                    # (in-table meta-tmp sweep) and corrupt_owners (the
                    # root sweep below must not rmtree `.{owner}_*`
                    # stage/backup dirs — with the journal unreadable we
                    # can't know WHICH of them the `live` set would have
                    # pinned, and a backup dir may hold the only copy of
                    # the table's data).
                    rest = name[len(".__journal_"):-len(".json")]
                    owner = rest.split("_.", 1)[0]
                    journaled_tables.add(owner)
                    corrupt_owners.add(owner)
                    continue
                # every journal kind pins the root-level dirs it could
                # still touch (or that hold a crashed mutation's staged
                # files): table_swap -> stage/backup, append -> src,
                # partition_swap -> token (its staging tmp dir's name)
                for field in ("stage", "backup", "src", "token"):
                    live.add(payload.get(field) or "")
                journaled_tables.add(payload.get("table") or "")
        removed: list[str] = []
        # orphaned meta tmp files INSIDE table dirs: a kill between a
        # meta tmp write and its os.replace (write_meta, or a recovery
        # rerun's _restore_meta) leaves `._{name}_tmp` that no journal
        # references — parquet readers ignore dot-files but nothing
        # else ever reclaims them. Tables with a live journal are
        # skipped (their repair belongs to _recover, which also cleans
        # these for journaled names).
        for tname in names:
            tdir = os.path.join(self.root, tname)
            if (
                tname.startswith(".")
                or tname in journaled_tables
                or not os.path.isdir(tdir)
            ):
                continue
            for inner in os.listdir(tdir):
                p = os.path.join(tdir, inner)
                if (
                    inner.startswith("._")
                    and inner.endswith("_tmp")
                    and os.path.isfile(p)
                ):
                    with contextlib.suppress(OSError):
                        os.remove(p)
                        removed.append(f"{tname}/{inner}")
        for name in names:
            if not name.startswith(".") or name in live:
                continue
            if name.startswith(".__journal_") and name.endswith(".json"):
                continue  # consumed only by _recover
            if any(name.startswith(f".{t}_") for t in corrupt_owners):
                # a corrupt journal's stage/backup/src dirs are
                # indistinguishable from orphans without the payload —
                # and a backup dir may be the ONLY copy of the table
                continue
            p = os.path.join(self.root, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                removed.append(name)
            elif name.endswith(".json.tmp"):
                with contextlib.suppress(OSError):
                    os.remove(p)
                    removed.append(name)
        return sorted(removed)

    def _journal_path(self, table: str, token: str) -> str:
        return os.path.join(self.root, f".__journal_{table}_{token}.json")

    def _journal_write(self, jp: str, payload: dict) -> None:
        tmp = jp + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, jp)
        # fsync the containing directory so the journal's rename is on
        # stable storage BEFORE any data rename that depends on it; the
        # stated fault model is process kills (fully covered), and this
        # closes the journal's own half of the power-loss window — full
        # power-loss atomicity of the data renames themselves would
        # additionally need a directory fsync after every os.replace,
        # which plain local parquet does not attempt (that is what a
        # Delta/Iceberg commit log buys).
        dfd = os.open(self.root, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def _recover(self, table: str) -> None:
        if not os.path.isdir(self.root):
            return
        prefix = f".__journal_{table}_"
        for name in sorted(os.listdir(self.root)):
            # the filename prefix is a cheap NECESSARY filter (this
            # table's journals always carry it) but not sufficient:
            # table names may contain underscores, so '.__journal_t_...'
            # also prefix-matches a crashed sibling table 't_x'.
            # Ownership is decided by the PAYLOAD's table field — a
            # journal for any other table is left untouched (per-table
            # single-writer discipline stays safe).
            if not (name.startswith(prefix) and name.endswith(".json")):
                continue
            jp = os.path.join(self.root, name)
            try:
                with open(jp) as fh:
                    payload = json.load(fh)
            except (OSError, ValueError):
                # journals are written atomically (tmp+fsync+replace),
                # so an unreadable one is disk corruption, not a
                # half-write — and it is the ONLY repair record for
                # whatever half-applied state is on disk. Ownership
                # can't come from the payload; parse it from the
                # filename (token is a mkdtemp basename starting
                # `.{table}_`, so the owner is the prefix before the
                # first `_.`). Raise ONLY for this table's own journal:
                # a corrupt sibling's journal (prefix-match artifact)
                # is that table's problem, surfaced on ITS access.
                owner = name[len(".__journal_"):-len(".json")].split("_.", 1)[0]
                if owner == table:
                    raise RuntimeError(
                        f"ParquetStore: journal {name} for table "
                        f"{table!r} is unreadable (corrupt); manual "
                        f"recovery required (file preserved — it is "
                        f"the only record of the crashed mutation)"
                    )
                continue
            if payload.get("table") != table:
                continue
            kind = payload.get("kind")
            if kind == "table_swap":
                self._recover_table_swap(payload)
            elif kind == "partition_swap":
                self._recover_partition_swap(payload)
            elif kind == "append":
                self._recover_append(payload)
            else:
                # unknown kind (version skew / mangled field): KEEP the
                # journal — it is the only repair record for whatever
                # half-applied state is on disk; deleting it would make
                # that state permanent with no evidence. Surface loudly.
                raise RuntimeError(
                    f"ParquetStore: journal {name} for table {table!r} "
                    f"has unrecognized kind {kind!r}; manual recovery "
                    f"required (file preserved)"
                )
            with contextlib.suppress(OSError):
                os.remove(jp)

    def _recover_table_swap(self, payload: dict) -> None:
        final = self.path(payload["table"])
        stage = os.path.join(self.root, payload["stage"])
        backup = os.path.join(self.root, payload["backup"])
        if not os.path.isdir(stage):
            # the stage→final rename (the commit point) happened: roll
            # forward — only the backup cleanup remained
            shutil.rmtree(backup, ignore_errors=True)
            return
        # commit point not reached: restore the pre-state
        if not os.path.isdir(final) and os.path.isdir(backup):
            os.replace(backup, final)
        shutil.rmtree(stage, ignore_errors=True)

    def _recover_partition_swap(self, payload: dict) -> None:
        final = self.path(payload["table"])
        token = payload["token"]
        if not os.path.isdir(final):
            return
        if payload.get("committed"):
            # all move-ins landed; only backup cleanup remained
            for e in payload["dirs"]:
                bak = os.path.join(final, f".{e['name']}.__bak_{token}")
                shutil.rmtree(bak, ignore_errors=True)
            return
        # not committed: every backed-up dir still has its backup
        # (backups are only dropped AFTER the committed mark), so the
        # exact pre-state is restorable
        for e in payload["dirs"]:
            d = os.path.join(final, e["name"])
            bak = os.path.join(final, f".{e['name']}.__bak_{token}")
            if os.path.isdir(bak):
                shutil.rmtree(d, ignore_errors=True)
                os.replace(bak, d)
            elif not e["existed"]:
                # a brand-new partition moved in before the kill
                shutil.rmtree(d, ignore_errors=True)
            # else: existed and never backed up -> untouched pre-state

    @staticmethod
    def _restore_meta(final: str, payload: dict) -> None:
        """Roll the append's meta files back to their journaled
        pre-state: delete ones that did not exist, rewrite priors
        (tmp+rename, same atomicity as the forward write). Also removes
        any stray ``.{name}_tmp`` left by a kill between the forward
        path's tmp write and its os.replace — recovery owns cleanup for
        JOURNALED meta names (this path); vacuum()'s table-dir sweep
        covers the journal-less writers (write_meta) and skips tables
        with a live journal precisely so the two never race."""
        for name, prior in (payload.get("meta_prior") or {}).items():
            target = os.path.join(final, name)
            with contextlib.suppress(OSError):
                os.remove(os.path.join(final, f".{name}_tmp"))
            if prior is None:
                with contextlib.suppress(OSError):
                    os.remove(target)
            else:
                tmp = os.path.join(final, f".{name}_tmp")
                with open(tmp, "w") as fh:
                    fh.write(prior)
                os.replace(tmp, target)

    def _recover_append(self, payload: dict) -> None:
        final = self.path(payload["table"])
        if payload.get("committed") or not os.path.isdir(final):
            return
        # not committed: delete the files this append moved in (part
        # file names are writer-UUID-unique, so the listed names can
        # only have come from this append) and restore any meta files
        # that were to commit with them
        self._restore_meta(final, payload)
        for rel in payload["files"]:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(final, rel))
        if payload.get("created"):
            # the append CREATED the table directory; pre-state is "no
            # table" — an empty leftover dir would flip exists() to
            # True and crash read() on schema inference
            shutil.rmtree(final, ignore_errors=True)

    def _swap_in(self, stage: str, table: str) -> None:
        """Replace the table directory with ``stage`` via backup-rename:
        the old table is RENAMED aside (atomic, cheap), the stage renamed
        in, then the backup dropped. A failure between the two renames
        restores the backup — at no point is the only copy of the data
        mid-``rmtree`` (the destroy-then-rename pattern loses the table
        if the process dies between the two steps). Journaled: a process
        kill at ANY step is repaired by ``_recover`` on next access —
        pre-state if the stage→final rename (the commit point) had not
        happened, post-state otherwise."""
        final = self.path(table)
        token = os.path.basename(stage)
        backup = os.path.join(self.root, f".{table}_backup_{token}")
        payload = {
            "kind": "table_swap",
            "table": table,
            "stage": token,
            "backup": os.path.basename(backup),
        }
        jp = self._journal_path(table, token)
        self._journal_write(jp, payload)
        _crash_point("table_swap:journaled")
        try:
            if os.path.isdir(final):
                os.replace(final, backup)
            _crash_point("table_swap:backed_up")
            os.replace(stage, final)
        except Exception:
            if not os.path.isdir(final) and os.path.isdir(backup):
                os.replace(backup, final)
            shutil.rmtree(stage, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.remove(jp)
            raise
        _crash_point("table_swap:swapped")
        shutil.rmtree(backup, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.remove(jp)

    def insert(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        meta_files: dict[str, str] | None = None,
    ) -> int:
        """Append-only INSERT (reference insert mode, etl/load.py:285).

        One plan execution: stage (row count observed on that write) →
        append into the table directory.

        ``meta_files`` commit ATOMICALLY with the appended rows (written
        inside the same journaled mutation, rolled back together on a
        kill) — the streaming ingest's ``_LAST_INGEST_EPOCH`` replay
        marker uses this so there is NO window where rows are committed
        but the marker is not (the round-8 code documented that window
        as the at-least-once residual; round 9 closed it). On an empty
        batch nothing is appended and the meta files are NOT written —
        replaying an empty epoch is a no-op either way.

        ``partition_by`` writes hive-style partition directories
        (``col=value/``) — the layout that makes incremental reads prune
        at the file listing, before any row is decoded: a date-filtered
        scan of a date-partitioned 100 TB table touches only the
        matching directories (``PartitionFilters`` in the scan, pinned
        by tests/test_formats.py). Partition columns should be
        low-cardinality (date, source, status) — per-key partitioning
        produces a small-file explosion.

        Layout guard: inserting flat into a partitioned table (or vice
        versa, or with different partition columns) raises instead of
        silently producing a mixed layout that breaks pruning and
        readback. Note the hive round-trip dtype caveat: partition
        values live in directory NAMES, and Spark re-infers their type
        on read (a string ``dt`` column written as ``dt=2024-01-01/``
        comes back as ``date`` under the default
        ``spark.sql.sources.partitionColumnTypeInference``) — choose
        partition columns whose inferred type is the stored type, or
        disable inference session-wide."""
        self._recover(table)
        self._check_layout(table, partition_by)
        stage, n = self._stage(df, table)
        try:
            if n and partition_by:
                # staged-file read → hive-layout rewrite in a second tmp
                # dir, then a JOURNALED per-file move-in (the incoming
                # plan still ran exactly once — both re-reads are file
                # scans of the staged snapshot, not plan re-runs). A
                # direct ``mode("append")`` into the live table would
                # leave a PARTIAL append visible if the process died
                # mid-write; the journaled move makes the append
                # all-or-nothing under kills, like every other mutation.
                lay = tempfile.mkdtemp(dir=self.root, prefix=f".{table}_ins_")
                try:
                    (
                        self.spark.read.schema(df.schema).parquet(stage)
                        .write.mode("overwrite")
                        .partitionBy(*partition_by)
                        .parquet(lay)
                    )
                    rels = [
                        os.path.relpath(os.path.join(r, fname), lay)
                        for r, _dirs, files in os.walk(lay)
                        for fname in files
                        if fname.endswith(".parquet")
                    ]
                    self._append_files(lay, table, sorted(rels), meta_files)
                finally:
                    shutil.rmtree(lay, ignore_errors=True)
            elif n:
                rels = sorted(
                    name for name in os.listdir(stage)
                    if name.endswith(".parquet")
                )
                self._append_files(stage, table, rels, meta_files)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return n

    def _append_files(
        self,
        src_root: str,
        table: str,
        rels: list[str],
        meta_files: dict[str, str] | None = None,
    ) -> None:
        """Journaled all-or-nothing file append: move ``rels`` (parquet
        files under ``src_root``, writer-UUID-unique names) into the
        table directory, then write ``meta_files`` — all before the
        committed mark, so rows and meta commit together. A kill
        mid-move (or mid-meta) is rolled back by ``_recover``
        (uncommitted journal → the listed files are deleted and each
        meta file restored to the journaled prior value; an empty
        ``col=value`` dir a rolled-back move may leave behind holds no
        rows and is rewritten by the next append)."""
        for name in meta_files or {}:
            self._check_meta_name(name)
        final = self.path(table)
        token = os.path.basename(src_root)
        payload = {
            "kind": "append",
            "table": table,
            "files": rels,
            # root-level staging dir holding the not-yet-moved files:
            # vacuum() must not delete it while this journal is live
            # (recovery never reads it, but a concurrent-with-crash
            # vacuum deleting mid-mutation state contradicts vacuum's
            # "journaled dirs are preserved" contract)
            "src": token,
            # pre-state marker: a rolled-back append that CREATED the
            # table must remove the directory again, not leave an empty
            # husk that flips exists()
            "created": not os.path.isdir(final),
            # meta files committing WITH this append + their pre-state
            # (None = absent), so rollback/recovery restores them with
            # the rows. Without meta_prior a kill after the meta write
            # but before the committed mark would roll the rows back
            # and LEAVE the advanced marker — the streaming replay
            # would then skip the epoch: silent data loss (caught by
            # the round-9 review's live repro).
            "meta": meta_files or {},
            "meta_prior": {
                name: self.read_meta(table, name) for name in (meta_files or {})
            },
        }
        jp = self._journal_path(table, token)
        self._journal_write(jp, payload)
        _crash_point("append:journaled")
        os.makedirs(final, exist_ok=True)
        try:
            for rel in rels:
                dst = os.path.join(final, rel)
                os.makedirs(os.path.dirname(dst) or final, exist_ok=True)
                os.replace(os.path.join(src_root, rel), dst)
                _crash_point("append:moved")
            for name, contents in (meta_files or {}).items():
                tmp = os.path.join(final, f".{name}_tmp")
                with open(tmp, "w") as fh:
                    fh.write(contents)
                os.replace(tmp, os.path.join(final, name))
                _crash_point("append:meta")
        except Exception as exc:
            if _CRASH_HOOK is not None and getattr(exc, "simulate_kill", False):
                # Test seam (streaming kill sweep): a BaseException-based
                # simulated kill deadlocks py4j's foreachBatch callback
                # thread, so the streaming tests raise a plain Exception
                # MARKED simulate_kill — skip the in-process rollback
                # exactly as a real kill would, leaving the journal for
                # _recover. Gated on the hook being installed so a
                # production exception that happens to carry the
                # attribute can never suppress rollback.
                raise
            self._restore_meta(final, payload)
            for rel in rels:
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(final, rel))
            if payload["created"]:
                # same rule as _recover_append: an append that CREATED
                # the table must remove the directory again on rollback,
                # not leave an empty husk that flips exists()
                shutil.rmtree(final, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.remove(jp)
            raise
        payload["committed"] = True
        self._journal_write(jp, payload)
        _crash_point("append:committed")
        with contextlib.suppress(OSError):
            os.remove(jp)

    def overwrite(
        self, df: DataFrame, table: str, meta_files: dict[str, str] | None = None
    ) -> int:
        """Replace the table with ``df`` atomically (stage → backup-
        rename swap). The primitive under rollup maintenance: the
        replacement is computed BEFORE the old table is touched, and the
        swap never holds the only copy mid-delete (see _swap_in).

        ``meta_files`` (name → contents) land inside the staged dir
        before the swap, so table data and metadata (e.g. the rollup's
        last-applied epoch marker) commit in the SAME atomic rename —
        underscore-prefixed names are ignored by parquet readers."""
        self._recover(table)
        for name in meta_files or {}:
            self._check_meta_name(name)
        stage, n = self._stage(df, table)
        for name, contents in (meta_files or {}).items():
            with open(os.path.join(stage, name), "w") as fh:
                fh.write(contents)
        self._swap_in(stage, table)
        return n

    def read_meta(self, table: str, name: str) -> str | None:
        """Read a metadata file written via overwrite(meta_files=...) or
        write_meta; None when absent."""
        self._recover(table)
        p = os.path.join(self.path(table), name)
        if not os.path.isfile(p):
            return None
        with open(p) as fh:
            return fh.read()

    def write_meta(self, table: str, name: str, contents: str) -> None:
        """Atomically write/replace one metadata file on an EXISTING
        table (tmp file + rename — readers never see a partial write).
        Not transactional with any data write: when metadata must commit
        with the data in one rename, use overwrite(meta_files=...)."""
        self._recover(table)
        final = self.path(table)
        if not os.path.isdir(final):
            raise FileNotFoundError(table)
        self._check_meta_name(name)
        tmp = os.path.join(final, f".{name}_tmp")
        with open(tmp, "w") as fh:
            fh.write(contents)
        os.replace(tmp, os.path.join(final, name))

    def _copy_meta_files(self, table: str, dst: str) -> None:
        """Carry user meta files (underscore-prefixed top-level files,
        e.g. the rollup's ``_LAST_EPOCH`` replay guard) from the live
        table into a rewrite staging dir, so maintenance rewrites
        (compact / cluster / upsert / delete) PRESERVE them — dropping
        the epoch marker would silently re-enable a replay double-merge.
        ``_SUCCESS`` is Spark's own marker; the staged dir has its own."""
        src = self.path(table)
        if not os.path.isdir(src):
            return
        for name in os.listdir(src):
            sp = os.path.join(src, name)
            if (
                name.startswith("_")
                and name != "_SUCCESS"
                and os.path.isfile(sp)
            ):
                shutil.copyfile(sp, os.path.join(dst, name))

    def _rewrite_and_swap(
        self,
        out: DataFrame,
        table: str,
        part_cols: list[str] | None,
        prefix: str,
        pre_swap=None,
    ):
        """Shared maintenance-rewrite discipline (upsert fallback,
        compact, cluster_rewrite, delete_rows): write ``out`` into a
        fresh tmp dir (hive layout when ``part_cols``), carry the
        table's meta files over, run ``pre_swap(tmp)`` INSIDE the
        guarded region (so a failing post-write read still cleans tmp
        up), then backup-rename swap. Returns pre_swap's result."""
        tmp = tempfile.mkdtemp(dir=self.root, prefix=f".{table}_{prefix}_")
        try:
            writer = out.write.mode("overwrite")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(tmp)
            self._copy_meta_files(table, tmp)
            result = pre_swap(tmp) if pre_swap is not None else None
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        self._swap_in(tmp, table)
        return result

    def _parquet_file_count(self, table: str) -> int:
        return sum(
            1
            for _root, _dirs, files in os.walk(self.path(table))
            for name in files
            if name.endswith(".parquet")
        )

    def compact(
        self, table: str, target_files: int, partition_by: list[str] | None = None
    ) -> int:
        """Small-file compaction: rewrite the table into ``target_files``
        parquet files (flat tables) and atomically swap. For partitioned
        tables each hive partition compacts to ONE file — the standard
        compaction goal; ``target_files`` only bounds the rewrite's task
        count, it cannot split a hot partition (splitting needs a
        within-partition bucket key — use cluster_rewrite with
        files_per_partition for that). Daily incremental inserts (especially
        partitioned ones) accrete small files until listing and per-file
        open dominate scan cost — the classic 100 TB table maintenance
        chore (Delta OPTIMIZE / Iceberg rewrite_data_files; this is the
        plain-parquet equivalent). ``repartition`` (not ``coalesce``) so
        the rewrite redistributes evenly instead of concatenating
        partitions on too few tasks.

        ``partition_by`` defaults to the table's detected hive layout
        (col=value first-level dirs), so compacting a partitioned table
        PRESERVES its pruning layout instead of flattening it; rows are
        repartitioned on the partition columns so each partition dir
        compacts to few files. Returns the parquet file count after
        compaction."""
        self._recover(table)
        if partition_by is None:
            partition_by = self._detect_partition_cols(table)
        current = self.read(table)
        if partition_by:
            out = current.repartition(target_files, *partition_by)
        else:
            out = current.repartition(target_files)
        self._rewrite_and_swap(out, table, partition_by, "compact")
        return self._parquet_file_count(table)

    def cluster_rewrite(
        self, table: str, by: list[str], files_per_partition: int | None = None
    ) -> int:
        """Cluster the table's rows on ``by`` columns and atomically swap
        — the plain-parquet analogue of Delta ZORDER / Iceberg
        rewrite_sorted: ``repartitionByRange`` puts disjoint key ranges
        in disjoint files, ``sortWithinPartitions`` orders rows inside
        each file, so every parquet row group carries a TIGHT min/max
        for the cluster columns and a selective filter prunes whole
        files AND row groups before decoding anything.

        This is the complement to hive partitioning: partition on the
        low-cardinality operational key (date), cluster within on the
        high-cardinality filter key (user/order id) — at 100 TB a point
        lookup then touches one partition dir × a handful of row groups.
        Statistics-based pruning needs no directory explosion, which is
        why it's the right tool for high-cardinality keys where
        partitioning would produce millions of tiny files.

        ``files_per_partition`` bounds output file count per hive
        partition (default: Spark's shuffle partitioning). Returns the
        number of parquet files after the rewrite. Pruning effect pinned
        by ``tests/test_formats.py::test_cluster_rewrite_tightens_row_groups``.
        """
        self._recover(table)
        part_cols = self._detect_partition_cols(table)
        current = self.read(table)
        range_cols = part_cols + by
        if files_per_partition is not None:
            clustered = current.repartitionByRange(files_per_partition, *range_cols)
        else:
            clustered = current.repartitionByRange(*range_cols)
        clustered = clustered.sortWithinPartitions(*(part_cols + by))
        self._rewrite_and_swap(clustered, table, part_cols, "cluster")
        return self._parquet_file_count(table)

    def _check_layout(self, table: str, partition_by: list[str] | None) -> None:
        """Raise when a write's partition layout disagrees with the
        table's existing hive layout — a mismatch silently flattens (or
        fragments) the directory structure and corrupts partition
        pruning for every later reader."""
        if not os.path.isdir(self.path(table)):
            return
        existing = self._detect_partition_cols(table)
        # ORDER-SENSITIVE compare: detection reports nesting order, and
        # a permuted partition_by (["l2","l1"] into an l1/l2 layout)
        # would append dirs nested the other way round — a mixed layout
        # Spark's partition discovery rejects at read time.
        requested = list(partition_by or [])
        if existing != requested:
            if not existing and self._parquet_file_count(table) == 0:
                # a validly-EMPTY table (delete_rows removed every row:
                # no parquet files, no col=value dirs) has no layout to
                # corrupt — accept any requested layout instead of
                # bricking the partitioned ingest until a manual rewrite
                return
            raise ValueError(
                f"ParquetStore layout mismatch for table {table!r}: "
                f"existing partition columns {existing} != requested "
                f"{requested}; rewrite the table (overwrite/compact) to "
                f"change its layout"
            )

    def _detect_partition_cols(self, table: str) -> list[str]:
        """Infer hive partition columns from col=value directory levels,
        RECURSING through nested layouts so a table written with
        ``insert(partition_by=["l1", "l2"])`` reports ``["l1", "l2"]``
        in NESTING order (the order ``partitionBy`` must replay to
        preserve the layout on a rewrite). Accuracy here is what keeps
        the partition-scoped upsert honest: it engages only when
        ``len(part_cols) == 1``, and a nested table mis-detected as
        single-level would be flattened by the scoped rewrite. A level
        that mixes more than one column name (a layout no Spark write
        produces) is reported with every name appended, so the result
        length > 1 routes such tables to the full rewrite too."""
        final = self.path(table)
        if not os.path.isdir(final):
            return []
        cols: list[str] = []
        base = final
        full_breadth = True  # level 1: full scan (the mixed-name guard)
        while True:
            names: set[str] = set()
            rep: str | None = None
            for d in os.listdir(base):
                p = os.path.join(base, d)
                if "=" in d and os.path.isdir(p):
                    names.add(d.split("=", 1)[0])
                    rep = p
                    if not full_breadth:
                        break  # deeper levels: one representative dir
            if not names:
                break
            if len(names) > 1:
                return cols + sorted(names)
            cols.append(names.pop())
            # Spark writes homogeneous layouts, so ONE representative
            # subdirectory per deeper level suffices — O(depth) listdir
            # calls total, not O(total partition dirs) per upsert.
            base = rep  # type: ignore[assignment]
            full_breadth = False
        return cols

    # Characters Spark's hive-path writer percent-escapes in partition
    # directory names (ExternalCatalogUtils.escapePathName, public Spark
    # source). _hive_part_dirname must produce the EXACT dir name Spark
    # writes or the scoped swap would miss a partition — a roundtrip
    # check in _upsert_scoped falls back to the full rewrite whenever
    # the formatted name disagrees with what is actually on disk.
    _HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)} | {chr(0x7F)}

    @classmethod
    def _hive_part_dirname(cls, col: str, value) -> str:
        if value is None:
            return f"{col}=__HIVE_DEFAULT_PARTITION__"
        s = str(value)
        escaped = "".join(
            f"%{ord(ch):02X}" if ch in cls._HIVE_ESCAPE else ch for ch in s
        )
        return f"{col}={escaped}"

    def upsert(self, df: DataFrame, table: str, pk: str) -> int:
        """Insert-or-update on PK (reference upsert, etl/load.py:283).

        Incoming is staged once (snapshot); then:

        - **Partition-scoped path** (hive-partitioned table, single
          partition level — the layout ``insert(partition_by=...)``
          writes): only the partitions that the upsert TOUCHES are
          rewritten. Affected = partitions any incoming row lands in ∪
          partitions currently holding a colliding PK (covers rows whose
          partition value changes). Kept rows of affected partitions are
          anti-joined against incoming PKs, unioned with incoming,
          written to a temp dir, and swapped in per-partition via
          backup-rename. Untouched partition directories are never
          rewritten (affected-partition discovery does read the table
          once, via a PK semi-join) — at 100 TB a daily upsert against
          a date-partitioned master table costs O(touched partitions),
          not O(table), which is the plain-parquet analogue of Delta/
          Iceberg MERGE file pruning. The partition-pruning filter means
          the read side also scans only the affected directories.
        - **Full-rewrite fallback** (unpartitioned table, multi-level
          layouts, or a partition-name roundtrip mismatch): anti-join
          keeps non-colliding target rows, union with incoming, write to
          a temp dir and atomically swap — correct at any size, O(table)
          write cost.

        A failed write never corrupts the table on either path (temp dir
        + backup-rename; no step holds the only copy mid-delete).
        """
        self._recover(table)
        stage, n = self._stage(df, table)
        try:
            if not n:
                return 0
            incoming = self.spark.read.schema(df.schema).parquet(stage)
            part_cols = self._detect_partition_cols(table)
            has_table = os.path.isdir(self.path(table))
            if (
                has_table
                and len(part_cols) == 1
                and self._upsert_scoped(incoming, table, pk, part_cols[0])
            ):
                return n
            if has_table:
                current = self.read(table)
                kept = current.join(incoming.select(pk).distinct(), pk, "left_anti")
                merged = kept.unionByName(incoming)
            else:
                merged = incoming
            self._rewrite_and_swap(merged, table, part_cols, "merge")
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return n

    def _upsert_scoped(
        self, incoming: DataFrame, table: str, pk: str, pc: str
    ) -> bool:
        """Partition-scoped merge body. Returns True when the scoped swap
        committed; False to signal 'use the full rewrite' (roundtrip
        safety check failed — e.g. a partition value whose formatted dir
        name does not match what Spark wrote)."""
        final = self.path(table)
        current = self.read(table)
        in_keys = incoming.select(pk).distinct()
        # Affected partition values: where incoming rows land + where
        # colliding PKs currently live — ONE pass, with each value's
        # origin tagged, so the colliding-PK semi-join over the current
        # table runs exactly once. The collect is bounded by the number
        # of TOUCHED partitions (an operational number — days in the
        # batch — never table-sized).
        aff_rows = (
            incoming.select(F.col(pc).alias("v"), F.lit(False).alias("from_current"))
            .unionByName(
                current.join(in_keys, pk, "left_semi")
                .select(F.col(pc).alias("v"), F.lit(True).alias("from_current"))
            )
            .groupBy("v")
            .agg(F.max("from_current").alias("from_current"))
            .collect()
        )
        vals = [r["v"] for r in aff_rows]
        want = {self._hive_part_dirname(pc, v) for v in vals}
        on_disk = {
            d for d in os.listdir(final)
            if "=" in d and os.path.isdir(os.path.join(final, d))
        }
        # Roundtrip check: every affected partition that exists on disk
        # must be addressable by its formatted name. Values sourced from
        # `current` were parsed FROM dir names, so a miss means our
        # formatter disagrees with Spark's writer — fall back.
        current_vals = {
            self._hive_part_dirname(pc, r["v"])
            for r in aff_rows
            if r["from_current"]
        }
        if current_vals - on_disk:
            return False
        non_null = [v for v in vals if v is not None]
        has_null = len(non_null) < len(vals)
        pred = F.col(pc).isin(non_null) if non_null else F.lit(False)
        if has_null:
            pred = pred | F.col(pc).isNull()
        # Partition-pruned read: only affected directories are scanned.
        kept = current.filter(pred).join(in_keys, pk, "left_anti")
        merged = kept.unionByName(incoming)
        tmp = tempfile.mkdtemp(dir=self.root, prefix=f".{table}_pmerge_")
        try:
            merged.write.mode("overwrite").partitionBy(pc).parquet(tmp)
            tmp_dirs = {
                d for d in os.listdir(tmp)
                if "=" in d and os.path.isdir(os.path.join(tmp, d))
            }
            if tmp_dirs - want:
                # Formatter/writer disagreement the other way: a written
                # dir we did not predict. Fall back before touching final.
                return False
            self._swap_partitions(tmp, table, sorted(want | tmp_dirs))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return True

    def _swap_partitions(
        self, tmp: str, table: str, affected_dirs: list[str]
    ) -> None:
        """Per-partition backup-rename swap: affected dirs in ``final``
        are renamed aside, the rewritten dirs moved in from ``tmp``
        (an affected dir absent from ``tmp`` was emptied by the merge
        and stays removed), backups dropped on success, restored on
        failure. Untouched partition directories are never renamed or
        rewritten — their files stay byte-identical (pinned by
        tests/test_operators.py and tests/test_round7.py).

        Rollback removes every dir already moved in from ``tmp`` —
        including NEW partitions that had no backup to restore —
        before restoring backups, so a mid-swap failure leaves the
        exact pre-upsert state (no PK left duplicated across its old
        and new partition).

        Journaled: the journal (affected dirs + existed-before flags)
        is written before the first rename and marked committed only
        after EVERY move-in — backups are dropped strictly after the
        committed mark, so a process kill at any step is repaired by
        ``_recover``: uncommitted → every renamed dir still has its
        backup, restore the exact pre-state; committed → only backup
        cleanup remained, finish it."""
        final = self.path(table)
        token = os.path.basename(tmp)
        tmp_dirs = sorted(
            d
            for d in os.listdir(tmp)
            if "=" in d and os.path.isdir(os.path.join(tmp, d))
        )
        payload = {
            "kind": "partition_swap",
            "table": table,
            "token": token,
            "dirs": [
                {
                    "name": d,
                    "existed": os.path.isdir(os.path.join(final, d)),
                }
                for d in sorted(set(affected_dirs) | set(tmp_dirs))
            ],
        }
        jp = self._journal_path(table, token)
        self._journal_write(jp, payload)
        _crash_point("partition_swap:journaled")
        backups: list[tuple[str, str]] = []
        moved_in: list[str] = []
        try:
            for d in affected_dirs:
                src = os.path.join(final, d)
                if os.path.isdir(src):
                    bak = os.path.join(final, f".{d}.__bak_{token}")
                    os.replace(src, bak)
                    backups.append((src, bak))
                    _crash_point("partition_swap:backed_up")
            for d in tmp_dirs:
                p = os.path.join(tmp, d)
                dst = os.path.join(final, d)
                os.replace(p, dst)
                moved_in.append(dst)
                _crash_point("partition_swap:moved_in")
        except Exception:
            for dst in moved_in:
                shutil.rmtree(dst, ignore_errors=True)
            for src, bak in backups:
                if not os.path.isdir(src):
                    os.replace(bak, src)
            with contextlib.suppress(OSError):
                os.remove(jp)
            raise
        payload["committed"] = True
        self._journal_write(jp, payload)
        _crash_point("partition_swap:committed")
        for _src, bak in backups:
            shutil.rmtree(bak, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.remove(jp)

    def delete_rows(self, table: str, key: str, keys: DataFrame) -> int:
        """Targeted deletion — the right-to-be-forgotten / takedown
        primitive: remove every row whose ``key`` appears in ``keys``
        (a one-column DataFrame), atomically, preserving any hive
        partition layout. Returns the number of rows removed.

        Plain-parquet emulation of ``DELETE FROM t WHERE key IN (...)``:
        anti-join rewrite + backup-rename swap (same discipline as
        upsert — no step holds the only copy mid-delete). The delete-key
        set is request-sized (a takedown list, not a table), so the
        anti-join broadcasts it; the rewrite cost is O(table), which is
        what plain parquet costs — on Delta/Iceberg this becomes a
        MERGE/DELETE with file-level pruning, and the surrounding
        accounting is unchanged. Deletion counts come from parquet
        footers (no plan re-run), and the caller should audit the count,
        not the keys (the point is to STOP storing them)."""
        self._recover(table)
        if not os.path.isdir(self.path(table)):
            return 0
        current = self.read(table)
        key_set = keys.select(F.col(keys.columns[0]).alias(key)).distinct()
        kept = current.join(key_set, key, "left_anti")
        part_cols = self._detect_partition_cols(table)
        n_before = current.count()
        # post-write count INSIDE the rewrite guard, with the schema
        # passed explicitly: a delete that removes EVERY row writes an
        # empty dataset (no parquet files to infer from), which must
        # still commit — the table becomes validly empty, not an error
        # with a leaked tmp dir
        n_after = self._rewrite_and_swap(
            kept,
            table,
            part_cols,
            "delete",
            pre_swap=lambda tmp: (
                self.spark.read.schema(current.schema).parquet(tmp).count()
            ),
        )
        return n_before - n_after


def audit_csv(df: DataFrame, out_dir: str, reason: str) -> str | None:
    """S8: back up rejected rows to a timestamped CSV (reference
    etl/load.py:114-122,141-151,183-190; artifacts retained by CI —
    daily-etl.yml:48-55).

    Distributed write — every reject row lands, however many there are
    (the reference, and an earlier version here, materialized rows on
    one node). Output is a directory of header-carrying CSV parts, the
    standard distributed-artifact layout. Returns the directory path,
    or None if there was nothing to audit.

    One upstream execution: the rows are counted by an ``Observation`` on
    the write itself, and a write that landed 0 rows (its one schema-only
    part file) is removed again — no probe job runs before the write.
    """
    # microseconds in the stamp: two same-reason audits within one
    # second must not overwrite each other's rejected rows
    stamp = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S_%f")
    path = os.path.join(out_dir, f"{reason}_{stamp}.csv")
    written = Observation()
    (
        df.observe(written, F.count(F.lit(1)).alias("n"))
        .write.option("header", True)
        .mode("overwrite")
        .csv(path)
    )
    if not written.get["n"]:
        shutil.rmtree(path, ignore_errors=True)
        return None
    return path


def _jdbc_options(
    url: str, table: str, batchsize: int = 10000, **options: str
) -> dict[str, str]:
    """Option dict for a JDBC write (pure function, unit-testable).
    ``batchsize`` is the rows-per-roundtrip knob — the distributed
    successor to the reference's 100-row HTTP batches."""
    opts = {"url": url, "dbtable": table, "batchsize": str(batchsize)}
    opts.update({k: str(v) for k, v in options.items()})
    return opts


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10000,
    **options: str,
) -> None:
    """JDBC sink (reference target: Postgres via PostgREST,
    etl/load.py:283-285). Every partition opens its own connection and
    batches inserts, so throughput scales with executors.

    INSERT == ``mode="append"`` straight to the target table. UPSERT ==
    append to a staging table, then run ``jdbc_upsert_sql`` on the
    database (JDBC has no MERGE pushdown). Requires a JDBC driver jar
    on the classpath; callers in this image mock the terminal ``save``.
    """
    (
        df.write.format("jdbc")
        .mode(mode)
        .options(**_jdbc_options(url, table, batchsize, **options))
        .save()
    )


def _qi(ident: str) -> str:
    """Quote a SQL identifier (double quotes, embedded quotes doubled):
    a column named after a reserved word (``order``, ``user``) or with
    mixed case/special characters must not produce an invalid or
    wrong-target statement, and identifiers sourced from external
    schemas must not be an injection vector."""
    return '"' + ident.replace('"', '""') + '"'


def _qtable(name: str) -> str:
    """Quote a possibly schema-qualified relation name: each
    dot-separated component is quoted separately, so ``public.users``
    becomes ``"public"."users"`` (one quoted identifier with a literal
    dot would target the wrong relation). Columns keep using ``_qi``
    directly — a column name containing a dot is a single identifier,
    not a qualification. Note quoting disables case-folding: pass the
    relation's exact stored case (Postgres folds unquoted names to
    lowercase, so a table created unquoted is stored lowercase)."""
    return ".".join(_qi(p) for p in name.split("."))


def jdbc_upsert_sql(table: str, staging: str, pk: str, cols: list[str]) -> str:
    """The statement a coordinator runs after staging an upsert batch:
    Postgres INSERT .. ON CONFLICT DO UPDATE (the reference's
    insert-or-update contract, etl/load.py:283). All identifiers are
    quoted — DataFrame column names are arbitrary strings; table and
    staging names may be schema-qualified (``public.users``) and are
    quoted per component."""
    col_list = ", ".join(_qi(c) for c in cols)
    updates = ", ".join(f"{_qi(c)} = EXCLUDED.{_qi(c)}" for c in cols if c != pk)
    # pure key-presence table (no non-pk columns): an empty DO UPDATE
    # SET clause is a syntax error — the degenerate form is DO NOTHING
    action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
    return (
        f"INSERT INTO {_qtable(table)} ({col_list}) "
        f"SELECT {col_list} FROM {_qtable(staging)} "
        f"ON CONFLICT ({_qi(pk)}) {action}"
    )


def write_sharded_corpus(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    key_col: str = "doc_id",
    hash_col: str = "shard_hash",
) -> None:
    """Production write path behind ``b_shard_manifest``'s semantics:
    export a corpus as ``n_shards`` contiguous hash-range shards that a
    training loader can address deterministically.

    The gate query (plans/llmdata_ext.py, b_shard_manifest) pins the
    ASSIGNMENT SEMANTICS with an exact global-window ntile — fine as a
    correctness oracle, unusable as a write path (a single-partition
    global sort). This is the distributed equivalent:
    ``repartitionByRange(n_shards, hash, key)`` lets Spark's sampled
    range partitioner pick the boundaries (reservoir sample of the keys,
    no global sort stage), then each partition writes one file. Shards
    are still CONTIGUOUS and non-overlapping in hash space — the same
    layout contract — but boundary placement is sample-balanced rather
    than exact-ntile, which is what you want at 100 TB: no stage ever
    holds the global order.

    The content-independent md5(key) hash rides along in the output as
    ``hash_col`` so a reader can verify shard membership without
    recomputing it.
    """
    sharded_frame(df, n_shards, key_col, hash_col).write.mode("overwrite").parquet(out_dir)


def sharded_frame(
    df: DataFrame, n_shards: int, key_col: str, hash_col: str = "shard_hash"
) -> DataFrame:
    """The pre-write frame of ``write_sharded_corpus`` — exposed so the
    layout test can pin its plan shape (rangepartitioning, NO global
    window stage)."""
    # withColumn, not select("*", ...): an input that already carries a
    # column named hash_col (re-sharding a previous export) must have it
    # REPLACED — a duplicate name makes the repartition reference
    # ambiguous and the output unreadable
    hk = F.md5(F.col(key_col).cast("string"))
    return df.withColumn(hash_col, hk).repartitionByRange(
        n_shards, F.col(hash_col), F.col(key_col)
    )


def sharded_corpus_manifest(spark: SparkSession, out_dir: str, hash_col: str = "shard_hash") -> DataFrame:
    """Manifest over a ``write_sharded_corpus`` output: one row per
    shard file with its row count and hash-range boundaries — what a
    loader consumes to address shards. Metadata-scale output (one row
    per file); computed distributed via ``input_file_name``."""
    return (
        spark.read.parquet(out_dir)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(hash_col).alias("min_hash"),
            F.max(hash_col).alias("max_hash"),
        )
        .orderBy("min_hash")
    )
