"""Parquet-backed table store — the at-rest layer (SURVEY.md §1.3).

The reference's single SQLite file becomes a directory of Parquet tables.
Writes are staged-then-swapped (write to a new versioned dir, flip a
pointer file) so readers never see a half-written table — the batch
analogue of the reference's per-video `db.commit()` transaction points
(`cmds/archive.py:134,195,312,343`), coarsened to per-batch as SURVEY §3.3
prescribes. A JDBC sink can replace this layer 1:1 (same upsert dataflow
inside foreachBatch, with the DB providing atomicity).

Scale notes: facts should be written partitioned (partitionBy date/key) so
cascades and key-scoped overwrites rewrite only affected partitions;
local tests use unpartitioned tiny tables.

Round 14 (VERDICT r13 item #7): every manifest flip ALSO appends a
Delta-shaped commit to ``root/_delta_log`` — ``add``/``remove``
actions naming the table version directories (``videos/v3``),
protocol + metaData in version 0 — so the store's multi-table
snapshots become TIME-TRAVELABLE: ``snapshot_at(V)`` replays the log
to any commit and ``read_at(name, V)`` opens the table as of that
commit (within the version-GC retention window). Every
``log_checkpoint_interval`` commits the log self-compacts through the
round-14 Delta checkpoint writer machinery: a ``<V>.checkpoint.parquet``
(nested-struct action rows from operators/parquet_write) +
``_last_checkpoint`` replace the JSON commits they cover — the
unbounded-log problem real Delta writers solve every 10 commits,
solved the same way. A crash between the manifest flip and the log
append is reconciled on the next store construction
(``_log_reconcile``), so the log never silently lags the manifest.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from yark_spark.io import local_frame
from yark_spark.schemas import ALL_TABLES

#: Parquet footer key under which Spark's writer stores the row schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema stored in the footer of the first part file
    directly under ``path``, or None when there is none."""
    import pyarrow.parquet as pq

    part = next(
        (f for f in sorted(os.listdir(path)) if f.startswith("part-") and f.endswith(".parquet")),
        None,
    )
    if part is None:
        return None
    meta = pq.read_schema(os.path.join(path, part)).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        return None
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


class ParquetStore:
    """Versioned parquet tables under ``root/<table>/v<N>``, with a
    ``_current`` pointer file per table.

    ``retain`` controls version GC: the newest ``retain`` versions of each
    table survive a write (default 2 — current + previous), so a lazy
    DataFrame obtained from ``read()`` before a write stays readable across
    ``retain - 1`` subsequent writes to the same table. Multi-table
    commands that read a whole store, transform, then write each table
    (archive, replay, cascade delete) rely on exactly that window. Call
    ``vacuum()`` to reclaim old versions once no readers remain.

    ``read()`` runs no Spark job. A written table is scanned with the
    schema in its Parquet footer, read on the driver, instead of paying
    a schema-inference job per read; an ``ALL_TABLES`` table that was
    never written is an empty ``LocalRelation`` with its declared schema,
    so the anti-joins and unions an upsert builds on it are pruned at
    plan time. Both matter per command and per streaming micro-batch
    (``history_sink`` reads the store once per batch)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        retain: int = 2,
        log_checkpoint_interval: int = 10,
    ):
        self.spark = spark
        self.root = root
        self.retain = max(1, retain)
        self.log_checkpoint_interval = max(1, log_checkpoint_interval)
        os.makedirs(root, exist_ok=True)
        self._log_reconcile()

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    # -- snapshot manifest: the CROSS-TABLE commit point ------------------
    # root/_snapshot.json maps table -> version and is replaced atomically
    # (os.replace) as the LAST step of every commit. Readers resolve
    # versions through it, so a job killed anywhere mid-commit — including
    # between a dim write and its fact write — leaves the previous
    # manifest, and therefore a CONSISTENT multi-table snapshot, readable
    # (VERDICT r7 'What's missing' #3). Per-table _current pointer files
    # are still written (after the manifest) for compatibility with
    # pre-manifest stores; the manifest wins when both exist.

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_snapshot.json")

    def _load_manifest(self) -> dict[str, int] | None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def _commit_manifest(self, updates: dict[str, int]) -> None:
        old = self._load_manifest() or {}
        m = dict(old)
        m.update(updates)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, sort_keys=True)
        os.replace(tmp, self._manifest_path())  # the atomic commit point
        # time-travel log (round 14): one Delta-shaped commit per flip
        self._log_append({k: v for k, v in updates.items() if old.get(k) != v}, old)

    # -- Delta-shaped commit log: the TIME-TRAVEL layer --------------------

    def _log_path(self) -> str:
        return os.path.join(self.root, "_delta_log")

    def _log_versions(self) -> list[int]:
        d = self._log_path()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[:20])
            for f in os.listdir(d)
            if f.endswith(".json") and f[:20].isdigit()
        )

    def _log_checkpoint_version(self) -> int | None:
        p = os.path.join(self._log_path(), "_last_checkpoint")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(json.load(f)["version"])

    def log_version(self) -> int | None:
        """The newest commit version in the time-travel log."""
        vs = self._log_versions()
        ck = self._log_checkpoint_version()
        if not vs and ck is None:
            return None
        return max([*vs, *([] if ck is None else [ck])])

    def _log_append(self, changed: dict[str, int], old: dict[str, int]) -> None:
        if not changed:
            return
        d = self._log_path()
        os.makedirs(d, exist_ok=True)
        head = self.log_version()
        version = 0 if head is None else head + 1
        actions = []
        if version == 0:
            actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
            actions.append(
                {"metaData": {"id": "yark-store", "format": {"provider": "parquet"}}}
            )
        for name in sorted(changed):
            if name in old:
                actions.append(
                    {"remove": {"path": f"{name}/v{old[name]}", "dataChange": True}}
                )
            actions.append(
                {"add": {"path": f"{name}/v{changed[name]}", "dataChange": True}}
            )
        tmp = os.path.join(d, f"{version:020d}.json.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions))
        os.replace(tmp, os.path.join(d, f"{version:020d}.json"))
        if version > 0 and version % self.log_checkpoint_interval == 0:
            self._log_checkpoint(version)

    def _log_checkpoint(self, version: int) -> None:
        """Self-compact: dump the state at ``version`` as a nested-struct
        checkpoint parquet (the round-14 Delta checkpoint writer layout)
        and delete the JSON commits it covers."""
        from yark_spark.operators.parquet_write import parquet_write

        state = self.snapshot_at(version)
        paths = [f"{name}/v{v}" for name, v in sorted(state.items())]
        n = 2 + len(paths)
        prs = [{"minReaderVersion": 1}] + [None] * (n - 1)
        mds = [None, {"id": "yark-store"}] + [None] * (n - 2)
        adds = [None, None] + [{"path": p, "size": None} for p in paths]
        blob = parquet_write(
            {"protocol": prs, "metaData": mds, "add": adds,
             "remove": [None] * n},
            types={
                "protocol": {"minReaderVersion": "INT32"},
                "metaData": {"id": "BYTE_ARRAY"},
                "add": {"path": "BYTE_ARRAY", "size": "INT64"},
                "remove": {"path": "BYTE_ARRAY"},
            },
            codec="SNAPPY",
        )
        d = self._log_path()
        with open(os.path.join(d, f"{version:020d}.checkpoint.parquet"), "wb") as f:
            f.write(blob)
        tmp = os.path.join(d, "_last_checkpoint.tmp")
        with open(tmp, "w") as f:
            json.dump({"version": version, "size": n}, f)
        os.replace(tmp, os.path.join(d, "_last_checkpoint"))
        for v in self._log_versions():
            if v <= version:
                os.remove(os.path.join(d, f"{v:020d}.json"))

    def snapshot_at(self, version: int | None = None) -> dict[str, int]:
        """Replay the commit log to ``version`` (default: head) →
        ``{table: store version}`` — checkpoint-seeded when the JSON
        history before the checkpoint has been compacted away."""
        from yark_spark.operators.parquet_data import parquet_read_columns

        d = self._log_path()
        head = self.log_version()
        if head is None:
            raise ValueError("store: no time-travel log yet")
        v = head if version is None else version
        if not 0 <= v <= head:
            raise ValueError(f"store: log version {v} out of range 0..{head}")
        state: dict[str, int] = {}
        # seed from the newest checkpoint ≤ v (older checkpoints stay on
        # disk, so any checkpointed version remains addressable)
        cks = sorted(
            int(f[:20])
            for f in os.listdir(d)
            if f.endswith(".checkpoint.parquet") and f[:20].isdigit()
        )
        ck = max((c for c in cks if c <= v), default=None)
        start = 0
        if ck is not None:
            ckpt = os.path.join(d, f"{ck:020d}.checkpoint.parquet")
            with open(ckpt, "rb") as f:
                cols = parquet_read_columns(f.read(), ["add.path"])
            for p in cols["add.path"]:
                if p is not None:
                    name, _, ver = p.rpartition("/v")
                    state[name] = int(ver)
            start = ck + 1
        have = set(self._log_versions())
        need = set(range(start, v + 1))
        if not need <= have:
            raise ValueError(
                f"store: commits {sorted(need - have)} compacted away — log "
                f"version {v} is only addressable at a checkpoint"
            )
        for cv in sorted(need):
            with open(os.path.join(d, f"{cv:020d}.json")) as f:
                for line in f:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "add" in action:
                        name, _, ver = action["add"]["path"].rpartition("/v")
                        state[name] = int(ver)
                    # remove is superseded by the same commit's add
        return state

    def read_at(self, name: str, version: int) -> DataFrame:
        """Time travel: the table as of log commit ``version``. Raises
        when that store version has been GC'd past ``retain``."""
        state = self.snapshot_at(version)
        if name not in state:
            raise ValueError(f"store: table {name!r} absent at log version {version}")
        target = os.path.join(self._table_dir(name), f"v{state[name]}")
        if not os.path.isdir(target):
            raise ValueError(
                f"store: {name} v{state[name]} vacuumed past retention — "
                "raise `retain` to time-travel further back"
            )
        return self._read_version(name, state[name])

    def _log_reconcile(self) -> None:
        """Close the crash window between the manifest flip and the log
        append: if the manifest names versions the log head doesn't,
        append a synthetic commit bringing the log up to date."""
        m = self._load_manifest()
        if not m:
            return
        try:
            state = self.snapshot_at()
        except ValueError:
            state = {}
        missing = {k: v for k, v in m.items() if state.get(k) != v}
        if missing:
            self._log_append(missing, state)

    def _write_pointer(self, name: str, version: int) -> None:
        tdir = self._table_dir(name)
        tmp_ptr = os.path.join(tdir, "_current.tmp")
        with open(tmp_ptr, "w") as f:
            f.write(str(version))
        os.replace(tmp_ptr, os.path.join(tdir, "_current"))

    def _current_version(self, name: str) -> int | None:
        m = self._load_manifest()
        if m is not None and name in m:
            return m[name]
        ptr = os.path.join(self._table_dir(name), "_current")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return int(f.read().strip())

    def exists(self, name: str) -> bool:
        return self._current_version(name) is not None

    def read(self, name: str) -> DataFrame:
        """The table's current version, without a Spark job (see the
        class docstring)."""
        v = self._current_version(name)
        if v is None:
            if name in ALL_TABLES:
                return local_frame(self.spark, [], ALL_TABLES[name])
            raise FileNotFoundError(f"table {name} not initialized")
        return self._read_version(name, v)

    def _read_version(self, name: str, version: int) -> DataFrame:
        """Parquet scan of one version dir with the schema Spark wrote
        into its part files' footers, read on the driver — the schema
        Spark's own inference would return, without the job inference
        runs. A dir with no part file at its top level (a partitioned
        write) falls back to inference."""
        target = os.path.join(self._table_dir(name), f"v{version}")
        reader = self.spark.read
        schema = _footer_schema(target)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(target)

    def _versions(self, name: str) -> list[int]:
        tdir = self._table_dir(name)
        if not os.path.isdir(tdir):
            return []
        return sorted(
            int(d[1:]) for d in os.listdir(tdir) if d.startswith("v") and d[1:].isdigit()
        )

    def write(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
    ) -> None:
        """Stage to v<N+1>, then atomically flip the pointer. Versions older
        than the newest ``retain`` are GC'd after the flip, so DataFrames
        holding the immediately-previous version stay readable (see class
        docstring).

        ``sort_by`` clusters the staged files on those keys
        (operators/layout.write_sorted shape: range partition + in-file
        sort) so subsequent range/point predicates on the leading key prune
        parquet row groups — worth it for big fact tables re-read by key,
        skip for small dims."""
        new = self._stage(name, df, partition_by, sort_by)
        self._commit_manifest({name: new})
        self._write_pointer(name, new)
        self._gc(name, new)

    def _stage(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
    ) -> int:
        """Materialize ``df`` into the table's next version dir WITHOUT
        committing it: a crash after staging leaves an orphan v-dir the
        next GC reclaims, never a visible table change."""
        tdir = self._table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        staged = self._versions(name)
        old = self._current_version(name)
        new = max([old if old is not None else -1, *([-1] if not staged else staged)]) + 1
        target = os.path.join(tdir, f"v{new}")
        if sort_by:
            from pyspark.sql import functions as F

            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            df = df.repartitionByRange(n, *[F.col(c) for c in sort_by]).sortWithinPartitions(
                *sort_by
            )
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)
        return new

    def _gc(self, name: str, new: int) -> None:
        for v in self._versions(name):
            if v <= new - self.retain:
                shutil.rmtree(
                    os.path.join(self._table_dir(name), f"v{v}"), ignore_errors=True
                )

    def commit_tables(
        self,
        tables: dict[str, DataFrame],
        partition_by: dict[str, list[str]] | None = None,
    ) -> None:
        """CROSS-TABLE atomic commit: stage every table's new version dir
        first (no visible change), then flip the ONE snapshot manifest.
        A kill anywhere before the manifest replace — including between a
        dimension's staging and its fact's — leaves readers on the
        previous consistent snapshot of ALL tables; a kill after it is a
        completed commit. This is the multi-table transaction the
        FK-ordered upsert graph (operators/archive.archive_batch) needs on
        plain Parquet: the reference gets it from SQLite's per-commit
        atomicity (`cmds/archive.py:134,195`), a JDBC deployment from the
        database — this closes the gap for the lake layout."""
        staged = {
            name: self._stage(name, df, (partition_by or {}).get(name))
            for name, df in tables.items()
        }
        self._commit_manifest(staged)
        for name, v in staged.items():
            self._write_pointer(name, v)
            self._gc(name, v)

    def vacuum(self, name: str | None = None) -> None:
        """Drop every non-current version (all tables, or one). Only safe
        once no lazy DataFrames from older reads remain un-consumed."""
        names = [name] if name else [d for d in os.listdir(self.root) if os.path.isdir(os.path.join(self.root, d))]
        for n in names:
            cur = self._current_version(n)
            for v in self._versions(n):
                if v != cur:
                    shutil.rmtree(os.path.join(self._table_dir(n), f"v{v}"), ignore_errors=True)

    def upsert(self, name: str, incoming: DataFrame, keys: list[str], guard=None) -> None:
        """Read-merge-swap upsert (W2 dataflow + store atomicity)."""
        from yark_spark.operators.writes import upsert as merge

        current = self.read(name)
        self.write(name, merge(current, incoming, keys, update_guard=guard))
