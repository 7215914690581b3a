"""Delta-Lake-style transaction-log snapshot resolution (round 13):
the LAKEHOUSE layer over the columnar substrate — given a table
directory (here a ustar archive: ``_delta_log/*.json`` commits +
``part-*.parquet`` data files, every byte produced by in-repo
writers), replay the commit log per the public Delta protocol
(delta.io PROTOCOL.md) and materialize the LIVE snapshot:

* commits are newline-delimited JSON actions; versions replay in
  ascending 20-digit order with NO GAPS (a missing version is a
  corrupt table, typed);
* ``add`` puts a file into the snapshot (recording the version),
  ``remove`` tombstones it — last action per path wins, and a
  re-``add`` after a ``remove`` resurrects the path at the new
  version (compaction's rewrite shape);
* ``protocol`` gates the reader (``minReaderVersion > 1`` is a typed
  boundary — column mapping/deletion vectors live there);
* ``metaData`` must appear in version 0 (self-describing table);
* each live file's ``size`` must match the actual member length
  (the cheap integrity check real readers apply before ranged
  reads), and its rows are then decoded through the from-scratch
  parquet reader (operators/parquet_data).

This is how a 100 TB lakehouse table IS a table: object stores have
no rename-into-place, so the JSON log is the single source of truth
and every engine (Spark, Trino, DuckDB) resolves the same snapshot
from the same actions.

Round 14 closes the write loop and the protocol-v3 gate:

* **checkpoint WRITING** — ``delta_checkpoint_table`` resolves the
  state at version V, emits ``<V>.checkpoint.parquet`` through the
  from-scratch parquet writer's new nested-struct support (one
  action per row: protocol / metaData / add struct columns, the
  layout the round-13 READER consumes) plus ``_last_checkpoint``,
  and DELETES commits ≤ V — replay equivalence against the pure-JSON
  log is pinned by test and by the q_delta_checkpoint_write oracle.
  Without this the log grows without bound; with it, log retention
  can vacuum history exactly like real writers do every 10 commits.
* **deletion vectors** (protocol v3, ``readerFeatures:
  ["deletionVectors"]``) — ``add.deletionVector`` descriptors decode
  through ``operators/roaring`` (Delta's RoaringBitmapArray over
  portable 32-bit roaring): inline ``i`` payloads Z85-decode from the
  descriptor itself, on-disk ``p`` payloads seek into the DV file
  (1-byte format version, 4-byte big-endian length framing, CRC32
  cross-check) — and the dead row indexes drop during materialize.
  Cardinality must match the decoded set (typed). ``u``-style
  UUID-relative paths and writer-side DV emission stay typed
  boundaries, as does checkpointing a table whose live files carry
  DVs (two-level struct nesting).

Reference parity note: the reference archiver tracks files in SQLite
rows (/root/reference/cmds/archive.py); log-structured table state
is driver-mandated pipeline surface (SURVEY.md §2.8).
"""

from __future__ import annotations

import json
import re
import zlib

from yark_spark.operators.containers import tar_build, tar_members
from yark_spark.operators.parquet_data import parquet_read_columns
from yark_spark.operators.parquet_meta import parquet_footer
from yark_spark.operators.parquet_write import parquet_write, plist, pmap
from yark_spark.operators.variant import variant_to_python
from yark_spark.operators.roaring import (
    roaring64_array_deserialize,
    roaring64_array_serialize,
    z85_decode,
    z85_encode,
)

__all__ = [
    "delta_add_deletion_vectors",
    "delta_change_feed",
    "delta_checkpoint_table",
    "delta_checkpoint_table_v2",
    "delta_column_mapping",
    "delta_column_resolution",
    "delta_live_files",
    "delta_live_files_dv",
    "delta_optimize",
    "delta_partition_scan",
    "delta_snapshot_rows",
    "delta_stats",
    "delta_stats_scan",
    "delta_version_at_timestamp",
]


def _cast_partition_value(delta_type, raw: "str | None"):
    """Delta serializes partition values as STRINGS in the add action
    (PROTOCOL.md Partition Value Serialization); cast back by the
    schemaString type for the columns real data files never contain."""
    if raw is None:
        return None
    if delta_type in ("long", "integer", "short", "byte"):
        return int(raw)
    if delta_type in ("double", "float"):
        return float(raw)
    if delta_type == "boolean":
        return raw == "true"
    # string / date / timestamp / timestampNtz stay their serialized form
    # (timestampNtz partition values serialize WITHOUT a zone, and the
    # naive literal is its own canonical form)
    return raw


def _serialize_partition_value(value) -> "str | None":
    """Write-side twin of :func:`_cast_partition_value`: probes and add
    actions must use the protocol's Partition Value Serialization
    (PROTOCOL.md) — bool as ``true``/``false``, floats in their shortest
    repr, dates in ISO form — not Python ``str()``, whose ``True`` would
    silently match no file."""
    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        return repr(value)
    if hasattr(value, "isoformat"):
        return value.isoformat(sep=" ") if hasattr(value, "hour") else value.isoformat()
    return str(value)


def delta_partition_scan(
    tar_payload: bytes,
    columns: list[str],
    partition: "dict[str, object]",
    predicate: "list[tuple[str, str, object]] | None" = None,
) -> tuple[list[tuple[int, dict]], dict[str, int]]:
    """Partition-PRUNED snapshot scan (round 15): real Delta tables
    are Hive-partitioned — each ``add`` carries ``partitionValues``
    (string-serialized) and the data files do NOT contain the
    partition columns. Files whose values mismatch the probe are
    never opened (the counter proves it); requested partition columns
    are INJECTED into the rows from the descriptor, cast by the
    metaData schemaString type. Deletion vectors still apply to the
    surviving files. This is why a one-partition query on a 100 TB
    Delta table reads O(partition), not O(table).

    ``predicate`` (round 17) composes the E194 STATS layer on top:
    partition-surviving files whose ``add.stats`` prove the
    conjunction cannot match are also skipped (counted separately as
    ``files_skipped_stats``), and the predicate re-applies exactly per
    row — the partition-prune-then-data-skip pipeline every real
    planner runs."""
    members = dict(tar_members(tar_payload))
    res = delta_column_resolution(tar_payload)
    if res is not None and res[0] != "name":
        # id-mode partition scans would need field-id resolution for
        # the pv keys too — typed until composed end to end
        raise NotImplementedError(
            "delta: partition scan over an id-mapped table"
        )
    # mode=name (round 17): partitionValues AND stats in mapped tables
    # key by PHYSICAL names — probes/predicates arrive in LOGICAL
    # names and translate here; rows emit back under logical names
    to_phys: dict[str, str] = res[1] if res is not None else {}
    live = _resolve_live(members)
    meta = _last_metadata(members)
    types: dict[str, str] = {}
    if meta is not None and meta.get("schemaString"):
        for f in json.loads(meta["schemaString"]).get("fields", []):
            if isinstance(f.get("type"), str):
                types[f["name"]] = f["type"]
    probe = {
        to_phys.get(k, k): _serialize_partition_value(v)
        for k, v in partition.items()
    }
    phys_pred = (
        [(to_phys.get(c, c), op, v) for c, op, v in predicate]
        if predicate
        else None
    )
    want = set(columns) | {c for c, _o, _v in predicate or ()}
    counters = {"files_skipped": 0, "files_scanned": 0}
    if predicate is not None:
        counters["files_skipped_stats"] = 0
    out: list[tuple[int, dict]] = []
    for path, (version, size, dv, pv, stats_raw) in sorted(live.items()):
        pv = pv or {}
        if any(pv.get(k) != v for k, v in probe.items()):
            counters["files_skipped"] += 1
            continue
        if predicate:
            stats = json.loads(stats_raw) if stats_raw else None
            if not all(
                _stats_admit(stats, col, op, value)
                for col, op, value in phys_pred
            ):
                counters["files_skipped_stats"] += 1
                continue
        data = members.get(path)
        if data is None:
            raise ValueError(f"delta: added file {path!r} missing")
        if size is not None and size != len(data):
            raise ValueError(f"delta: size mismatch for {path!r}")
        counters["files_scanned"] += 1
        dead = _dv_dead_rows(members, dv) if dv is not None else frozenset()
        file_cols = []
        for c in want:
            pc = to_phys.get(c, c)
            if pc not in pv and pc not in file_cols:
                file_cols.append(pc)
        if file_cols:
            cols = parquet_read_columns(data, file_cols)
            n = len(cols[file_cols[0]])
        else:
            cols = {}
            n = parquet_footer(data)["num_rows"]
        for i in range(n):
            if i in dead:
                continue
            full = {}
            for c in want:
                pc = to_phys.get(c, c)
                if pc in pv:
                    full[c] = _cast_partition_value(
                        types.get(c, "string"), pv.get(pc)
                    )
                else:
                    full[c] = cols[pc][i]
            if predicate and not _row_matches(full, predicate):
                continue
            out.append((version, {c: full[c] for c in columns}))
    return out, counters

_COMMIT_RE = re.compile(r"^_delta_log/(\d{20})\.json$")
_V2_CKPT_RE = re.compile(
    r"^_delta_log/(\d{20})\.checkpoint\.([0-9a-fA-F][0-9a-fA-F-]{7,})"
    r"\.(json|parquet)$"
)


def delta_live_files(tar_payload: bytes) -> list[tuple[str, int, bytes]]:
    """DV-free twin of :func:`delta_live_files_dv`: tables whose live
    files carry deletion vectors must use the DV-aware API (silently
    returning undeleted rows would be a WRONG snapshot, so this is a
    typed error, not a fallback)."""
    out = []
    for path, version, data, dead in delta_live_files_dv(tar_payload):
        if dead:
            raise ValueError(
                "delta: table carries deletion vectors — use delta_live_files_dv"
            )
        out.append((path, version, data))
    return out


def delta_live_files_dv(
    tar_payload: bytes,
) -> list[tuple[str, int, bytes, frozenset]]:
    """Replay a table archive's commit log → the live snapshot as
    ``[(path, version_added, file_bytes)]`` in path order.

    Parquet CHECKPOINTS (round 13 s3): when ``_last_checkpoint``
    names version V, the state is seeded from
    ``<V>.checkpoint.parquet`` — one row per action, actions as
    NESTED STRUCT columns (``add.path``, ``add.size``,
    ``remove.path``, ``metaData.id``, ``protocol.minReaderVersion``)
    read through the from-scratch reader's dotted-path support — and
    only commits V+1..N replay on top. Commits ≤ V may be PHYSICALLY
    ABSENT (log retention deleted them — the whole point of
    checkpoints: a reader that still walks version 0 breaks on any
    real table older than the retention window). Files seeded from
    the checkpoint carry version_added = V, the finest attribution
    the log retains."""
    members = dict(tar_members(tar_payload))
    return _finalize(members, _resolve_live(members))


def _resolve_live(members: dict, version: "int | None" = None) -> dict:
    """Checkpoint-or-JSON replay → the live dict
    ``{path: (version, size, dv descriptor, partitionValues)}`` —
    the shared core of snapshot and partition-pruned scans.
    ``version`` selects a historical snapshot (VERSION AS OF, round
    15): replay stops after that commit; asking for history older
    than the checkpoint is typed (log retention vacuumed it)."""
    ckpt_version = None
    lc = members.get("_delta_log/_last_checkpoint")
    if lc is not None:
        ckpt_version = json.loads(lc.decode("utf-8"))["version"]
    # v2 checkpoints (round 16, VERDICT r15 next-round #3): UUID-named
    # `<V>.checkpoint.<uuid>.{json|parquet}` manifests discoverable by
    # LISTING (the spec's discovery rule — _last_checkpoint is an
    # optional accelerator for them)
    v2_ckpts: dict[int, str] = {}
    commits: list[tuple[int, bytes]] = []
    for name in members:
        m = _COMMIT_RE.match(name)
        if m:
            commits.append((int(m.group(1)), members[name]))
            continue
        m2 = _V2_CKPT_RE.match(name)
        if m2:
            v2_ckpts[int(m2.group(1))] = name
        elif name.startswith("_delta_log/") and ".checkpoint." in name:
            if ckpt_version is None:
                raise ValueError(
                    "delta: checkpoint parquet without _last_checkpoint"
                )
    if v2_ckpts:
        v2_version = (
            ckpt_version if ckpt_version in v2_ckpts else max(v2_ckpts)
        )
        # highest-version checkpoint wins across ALL forms (ADVICE r16):
        # a stale UUID-named v2 manifest beside a NEWER classic/multi-part
        # checkpoint named by _last_checkpoint must not drag replay back
        # to the older v2 state — the intervening commits may be vacuumed
        # (which the newer checkpoint permits) and the gapless check
        # would reject a perfectly readable table
        classic_newer = (
            ckpt_version is not None
            and ckpt_version not in v2_ckpts
            and ckpt_version > v2_version
        )
        if not classic_newer:
            if version is not None and version < v2_version:
                raise ValueError(
                    f"delta: version {version} predates the checkpoint "
                    f"({v2_version}) — its history was vacuumed"
                )
            return _replay_from_v2_checkpoint(
                members, v2_version, v2_ckpts[v2_version], commits, version
            )
    if ckpt_version is not None:
        if version is not None and version < ckpt_version:
            raise ValueError(
                f"delta: version {version} predates the checkpoint "
                f"({ckpt_version}) — its history was vacuumed"
            )
        # MULTI-PART classic checkpoints (round 16): _last_checkpoint
        # declares "parts": N and the state is split across
        # <V>.checkpoint.<part>.<of>.parquet files (1-based), unioned
        parts = json.loads(lc.decode("utf-8")).get("parts")
        if parts:
            names = [
                f"_delta_log/{ckpt_version:020d}.checkpoint."
                f"{p:010d}.{parts:010d}.parquet"
                for p in range(1, parts + 1)
            ]
            missing = [n for n in names if n not in members]
            if missing:
                raise ValueError(
                    f"delta: _last_checkpoint names missing {missing[0]}"
                )
            return _replay_from_checkpoint(
                members,
                ckpt_version,
                [members[n] for n in names],
                commits,
                version,
            )
        ckpt_name = f"_delta_log/{ckpt_version:020d}.checkpoint.parquet"
        if ckpt_name not in members:
            raise ValueError(f"delta: _last_checkpoint names missing {ckpt_name}")
        return _replay_from_checkpoint(
            members, ckpt_version, members[ckpt_name], commits, version
        )
    if not commits:
        raise ValueError("delta: no commit files under _delta_log/")
    commits.sort()
    if [v for v, _ in commits] != list(range(len(commits))):
        raise ValueError("delta: commit versions must be gapless from 0")
    if version is not None:
        if version > commits[-1][0] or version < 0:
            raise ValueError(f"delta: version {version} not in the log")
        commits = [(v, b) for v, b in commits if v <= version]

    # path -> (version, size, deletionVector | None, partitionValues)
    live: dict = {}
    saw_metadata = False
    for v, blob in commits:
        saw_metadata = _apply_commit(blob, v, live) or saw_metadata
    if not saw_metadata:
        raise ValueError("delta: table has no metaData action")
    return live


def _check_protocol(p: dict) -> None:
    mrv = p.get("minReaderVersion", 1)
    if mrv <= 2:
        # 2 = column mapping (round 14 s3: mode=name resolves through
        # the metaData schema's physicalName annotations)
        return
    if mrv == 3:
        unsupported = set(p.get("readerFeatures") or []) - {
            "deletionVectors",
            "columnMapping",
            "v2Checkpoint",  # round 16: manifest + sidecar checkpoints
            # round 16: naive wall-clock timestamps — parquet TIMESTAMP
            # with isAdjustedToUTC=false (parquet_meta.timestamp_ntz_flag
            # reads the LogicalType bit; values are raw micros)
            "timestampNtz",
            # round 17: widened column types — files written under the
            # NARROWER type upcast to the current schema type at read
            # (int→long/float→double are value-identity in our Python
            # materialization; date→timestampNtz converts days→micros)
            "typeWidening",
            "typeWidening-preview",
            # round 17: semi-structured VARIANT columns — parquet
            # group {metadata BINARY, value BINARY} decoded through
            # operators/variant (VariantEncoding.md)
            "variantType",
            "variantType-preview",
        }
        if unsupported:
            raise NotImplementedError(
                f"delta: readerFeatures {sorted(unsupported)} not supported"
            )
        return
    raise NotImplementedError(
        f"delta: minReaderVersion {mrv} not supported"
    )


def _apply_commit(blob: bytes, version: int, live: dict) -> bool:
    """Apply one commit's newline-delimited actions to ``live``;
    returns whether a metaData action was seen."""
    saw_metadata = False
    for line in blob.splitlines():
        if not line.strip():
            continue
        action = json.loads(line)
        if "protocol" in action:
            _check_protocol(action["protocol"])
        elif "metaData" in action:
            saw_metadata = True
        elif "add" in action:
            a = action["add"]
            live[a["path"]] = (
                version,
                a.get("size"),
                a.get("deletionVector"),
                a.get("partitionValues"),
                a.get("stats"),
            )
        elif "remove" in action:
            live.pop(action["remove"]["path"], None)
        # commitInfo / txn: informational, skipped
    return saw_metadata


def _dv_dead_rows(members: dict, dv: dict) -> frozenset:
    """Decode a deletionVector descriptor into its dead row indexes:
    inline ``i`` payloads Z85-decode from the descriptor, on-disk
    ``p`` payloads seek into the DV file (format-version byte 1,
    4-byte big-endian length framing, CRC32 of the bitmap bytes).
    The descriptor's cardinality must equal the decoded set size."""
    st = dv.get("storageType")
    if st == "i":
        decoded = z85_decode(dv["pathOrInlineDv"])
        size = dv["sizeInBytes"]
        # Z85 works in 4-byte words; the payload may carry ≤3 pad bytes
        if not size <= len(decoded) < size + 4:
            raise ValueError("delta: inline DV sizeInBytes mismatch")
        data = decoded[:size]
    elif st in ("p", "u"):
        if st == "p":
            # 'p' is an ABSOLUTE path/URI (PROTOCOL.md; 'u' is the
            # relative form). A relocated table's members are keyed
            # relative to its root, so resolve by the longest
            # member-matching suffix; bare relative paths (legacy
            # in-repo commits) still resolve directly.
            path = dv["pathOrInlineDv"]
            if path not in members and ("://" in path or path.startswith("/")):
                parts = path.split("://", 1)[-1].lstrip("/").split("/")
                for i in range(len(parts)):
                    cand = "/".join(parts[i:])
                    if cand in members:
                        path = cand
                        break
        else:
            # u-style (round 15): <random prefix><20-char Z85 uuid> →
            # <tableRoot>/[prefix/]deletion_vector_<canonical-uuid>.bin
            # (PROTOCOL.md Deletion Vector Descriptor)
            path = _dv_u_path(dv["pathOrInlineDv"])
        blob = members.get(path)
        if blob is None:
            raise ValueError(f"delta: DV file {path!r} missing")
        if not blob or blob[0] != 1:
            raise ValueError("delta: DV file format version must be 1")
        off = dv["offset"]
        size = dv["sizeInBytes"]
        if off + 8 + size > len(blob):
            raise ValueError("delta: DV span exceeds file")
        length = int.from_bytes(blob[off : off + 4], "big")
        if length != size:
            raise ValueError("delta: DV length word disagrees with sizeInBytes")
        data = blob[off + 4 : off + 4 + size]
        stored = int.from_bytes(blob[off + 4 + size : off + 8 + size], "big")
        if zlib.crc32(data) != stored:
            raise ValueError("delta: DV checksum mismatch")
    else:
        raise ValueError(f"delta: unknown DV storageType {st!r}")
    rows = roaring64_array_deserialize(data)
    if len(rows) != dv["cardinality"]:
        raise ValueError(
            f"delta: DV cardinality {dv['cardinality']} != decoded {len(rows)}"
        )
    return frozenset(rows)


def _dv_u_path(encoded: str) -> str:
    """u-style pathOrInlineDv → relative DV file path: the LAST 20
    characters Z85-decode to the 16-byte UUID, anything before them is
    the optional random prefix directory."""
    import uuid as _uuid

    if len(encoded) < 20:
        raise ValueError("delta: u-style DV path shorter than a Z85 uuid")
    prefix, tail = encoded[:-20], encoded[-20:]
    u = str(_uuid.UUID(bytes=z85_decode(tail)))
    name = f"deletion_vector_{u}.bin"
    return f"{prefix}/{name}" if prefix else name


def delta_add_deletion_vectors(
    tar_payload: bytes,
    dead: "dict[str, list[int] | set[int]]",
    storage: str = "u",
) -> bytes:
    """The DV WRITE loop (round 15): append one commit that attaches
    deletion vectors to live files — per the protocol, a ``remove`` of
    the prior add plus a re-``add`` of the same path carrying the new
    descriptor. Rows union with any EXISTING DV on the file (a writer
    that drops previously-deleted rows resurrects them). The commit
    upgrades the protocol to readerVersion 3 / writerVersion 7 with
    the deletionVectors feature when the table is not there yet.

    ``storage``: ``"p"`` packs every new DV into one file addressed by
    an ABSOLUTE URI in the descriptor, per the protocol
    (1-byte format version, then per-DV 4-byte BE length + Delta
    RoaringBitmapArray bytes + 4-byte BE CRC32 — the on-disk layout
    the reader seeks); ``"u"`` writes the same file under a
    ``deletion_vector_<uuid>.bin`` name addressed by the descriptor's
    Z85 uuid (derived here from the bitmap digest, so rewrites are
    deterministic); ``"i"`` inlines each bitmap Z85-encoded in the
    descriptor itself."""
    import hashlib as _hashlib
    import uuid as _uuid

    if storage not in ("p", "u", "i"):
        raise ValueError(f"delta: DV storage {storage!r}")
    members = dict(tar_members(tar_payload))
    resolved = _resolve_live(members)
    live = {
        path: (version, len(data), old_dead, resolved[path][3], resolved[path][4])
        for path, version, data, old_dead in delta_live_files_dv(tar_payload)
    }
    missing = [p for p in dead if p not in live]
    if missing:
        raise ValueError(f"delta: DV targets not in live snapshot: {missing}")
    versions = sorted(
        int(m.group(1)) for m in map(_COMMIT_RE.match, members) if m
    )
    next_v = (versions[-1] + 1) if versions else 0
    lc = members.get("_delta_log/_last_checkpoint")
    if lc is not None:
        next_v = max(next_v, json.loads(lc.decode("utf-8"))["version"] + 1)

    payloads: list[tuple[str, bytes, int]] = []  # (path, bitmap, |rows|)
    for path in sorted(dead):
        _ver, _size, old_rows, _pv, _stats = live[path]
        rows = set(old_rows) | {int(r) for r in dead[path]}
        if not rows:
            raise ValueError(f"delta: empty DV for {path!r}")
        payloads.append((path, roaring64_array_serialize(sorted(rows)), len(rows)))

    actions = []
    descriptors: dict[str, dict] = {}
    if storage == "i":
        for path, bitmap, card in payloads:
            padded = bitmap + b"\x00" * (-len(bitmap) % 4)
            descriptors[path] = {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(padded),
                "offset": 0,
                "sizeInBytes": len(bitmap),
                "cardinality": card,
            }
        new_members: list[tuple[str, bytes]] = []
    else:
        blob = bytearray(b"\x01")
        for path, bitmap, card in payloads:
            off = len(blob)
            blob += len(bitmap).to_bytes(4, "big")
            blob += bitmap
            blob += zlib.crc32(bitmap).to_bytes(4, "big")
            descriptors[path] = {
                "storageType": storage,
                "offset": off,
                "sizeInBytes": len(bitmap),
                "cardinality": card,
            }
        digest = _hashlib.md5(bytes(blob)).digest()
        if storage == "u":
            u = _uuid.UUID(bytes=digest)
            dv_path = f"deletion_vector_{u}.bin"
            addr = z85_encode(digest)
        else:
            # 'p' storage is defined as an ABSOLUTE path (PROTOCOL.md);
            # the file itself lives relative inside the archive and the
            # reader resolves the URI by member-matching suffix
            dv_path = f"deletion_vectors/dv-{digest.hex()}.bin"
            addr = f"file:///delta-table/{dv_path}"
        for d in descriptors.values():
            d["pathOrInlineDv"] = addr
        new_members = [(dv_path, bytes(blob))]

    actions.append(
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"],
            }
        }
    )
    for path in sorted(dead):
        _ver, size, _old, pv, stats = live[path]
        actions.append({"remove": {"path": path, "dataChange": True}})
        add_action = {
            "path": path,
            "size": size,
            "dataChange": True,
            "deletionVector": descriptors[path],
            # partitionValues is REQUIRED on add actions ({} when
            # unpartitioned) — foreign readers reject its absence
            "partitionValues": pv if pv is not None else {},
        }
        if stats is not None:
            # the file's bytes are unchanged by a DV attach — its
            # column stats stay valid and ride the re-add (round 17)
            add_action["stats"] = stats
        actions.append({"add": add_action})
    commit = b"\n".join(json.dumps(a).encode("utf-8") for a in actions) + b"\n"
    out = [(n, b) for n, b in members.items()]
    out.extend(new_members)
    out.append((f"_delta_log/{next_v:020d}.json", commit))
    return tar_build(sorted(out))


def _finalize(members: dict, live: dict) -> list[tuple[str, int, bytes, frozenset]]:
    # integrity checks apply to the FINAL live set only: files whose
    # every add was later removed may be physically gone (vacuumed) —
    # replay must not require their bytes
    out = []
    for path, (version, size, dv, _pv, _stats) in sorted(live.items()):
        data = members.get(path)
        if data is None:
            raise ValueError(f"delta: added file {path!r} missing")
        if size is not None and size != len(data):
            raise ValueError(
                f"delta: size mismatch for {path!r} "
                f"(log {size}, actual {len(data)})"
            )
        dead = _dv_dead_rows(members, dv) if dv is not None else frozenset()
        out.append((path, version, data, dead))
    return out


def _replay_from_checkpoint(
    members: dict,
    ckpt_version: int,
    ckpt_blob: "bytes | list[bytes]",
    commits: list,
    version: "int | None" = None,
) -> dict:
    """Seed state from the checkpoint's struct-column rows, then
    replay only the commits AFTER it (earlier JSON may be gone).
    ``ckpt_blob`` may be a LIST of part files (round 16: multi-part
    checkpoints, ``_last_checkpoint`` "parts": N) — the state is the
    union of every part's action rows."""
    blobs = ckpt_blob if isinstance(ckpt_blob, list) else [ckpt_blob]
    live: dict = {}
    saw_metadata = False
    for blob in blobs:
        saw_metadata = (
            _seed_ckpt_part(blob, ckpt_version, live) or saw_metadata
        )
    if not saw_metadata:
        raise ValueError("delta: checkpoint has no metaData row")
    later = sorted((v, b) for v, b in commits if v > ckpt_version)
    if [v for v, _ in later] != list(
        range(ckpt_version + 1, ckpt_version + 1 + len(later))
    ):
        raise ValueError("delta: commit versions after checkpoint must be gapless")
    if version is not None:
        if version > (later[-1][0] if later else ckpt_version):
            raise ValueError(f"delta: version {version} not in the log")
        later = [(v, b) for v, b in later if v <= version]
    for version, blob in later:
        _apply_commit(blob, version, live)
    return live


def _seed_ckpt_part(ckpt_blob: bytes, ckpt_version: int, live: dict) -> bool:
    """Seed ``live`` from ONE classic-checkpoint parquet (or part
    file); returns whether a metaData row was present."""
    cols = parquet_read_columns(
        ckpt_blob,
        [
            "add.path",
            "add.size",
            "remove.path",
            "metaData.id",
            "protocol.minReaderVersion",
        ],
    )
    # DV descriptor columns (round 14 second pass): absent on pre-DV
    # checkpoints — all-None then
    try:
        dvc = parquet_read_columns(
            ckpt_blob,
            [
                "add.deletionVector.storageType",
                "add.deletionVector.pathOrInlineDv",
                "add.deletionVector.offset",
                "add.deletionVector.sizeInBytes",
                "add.deletionVector.cardinality",
            ],
        )
    except ValueError:
        dvc = None
    try:
        adds_full = parquet_read_columns(ckpt_blob, ["add"])["add"]
    except (ValueError, NotImplementedError):
        adds_full = None
    # file-level column stats survive checkpoints as a STRING column
    # (round 17) — absent on pre-stats checkpoints
    try:
        stats_col = parquet_read_columns(ckpt_blob, ["add.stats"])["add.stats"]
    except ValueError:
        stats_col = None
    saw_metadata = False
    for i in range(len(cols["add.path"])):
        mrv = cols["protocol.minReaderVersion"][i]
        if mrv is not None and mrv not in (1, 2, 3):
            # 2 = column mapping (round 15: mapped-table checkpoints
            # carry their metaData row — _last_metadata recovers it),
            # 3 = deletionVectors
            raise NotImplementedError(
                f"delta: checkpointed minReaderVersion {mrv} not supported"
            )
        if cols["metaData.id"][i] is not None:
            saw_metadata = True
        p = cols["add.path"][i]
        if p is not None:
            dv = None
            if dvc is not None and dvc["add.deletionVector.storageType"][i] is not None:
                dv = {
                    "storageType": dvc["add.deletionVector.storageType"][i],
                    "pathOrInlineDv": dvc["add.deletionVector.pathOrInlineDv"][i],
                    "offset": dvc["add.deletionVector.offset"][i],
                    "sizeInBytes": dvc["add.deletionVector.sizeInBytes"][i],
                    "cardinality": dvc["add.deletionVector.cardinality"][i],
                }
            pv = None
            if adds_full is not None and adds_full[i] is not None:
                raw_pv = adds_full[i].get("partitionValues")
                if isinstance(raw_pv, list):
                    raw_pv = dict(raw_pv)  # MAP column → (k, v) tuples
                pv = raw_pv
            stats = stats_col[i] if stats_col is not None else None
            live[p] = (ckpt_version, cols["add.size"][i], dv, pv, stats)
        # remove rows are EXPIRED tombstones retained for vacuum
        # bookkeeping — by definition not part of the live state
    return saw_metadata


def _sidecar_path(raw: str) -> str:
    """Sidecar ``path`` fields are file names resolved inside
    ``_delta_log/_sidecars/`` (the spec's sidecar directory); a path
    already carrying directories is honored as log-relative."""
    if "/" in raw:
        return raw if raw.startswith("_delta_log/") else f"_delta_log/{raw}"
    return f"_delta_log/_sidecars/{raw}"


def _parquet_adds_into_live(
    blob: bytes, ckpt_version: int, live: dict, required: bool = True
) -> bool:
    """Extract add-file rows from a checkpoint-shaped parquet action
    file (v2 manifest or sidecar) into ``live``; returns whether a
    metaData row was present. Shared row shape with the classic
    checkpoint reader: nested deletionVector struct, partitionValues
    as a real parquet MAP. ``required=False`` tolerates a file with no
    add column at all (a sidecar-only v2 manifest)."""
    try:
        cols = parquet_read_columns(blob, ["add.path", "add.size"])
    except ValueError:
        if required:
            raise
        try:
            meta_ids = parquet_read_columns(blob, ["metaData.id"])["metaData.id"]
        except ValueError:
            return False
        return any(mid is not None for mid in meta_ids)
    try:
        dvc = parquet_read_columns(
            blob,
            [
                "add.deletionVector.storageType",
                "add.deletionVector.pathOrInlineDv",
                "add.deletionVector.offset",
                "add.deletionVector.sizeInBytes",
                "add.deletionVector.cardinality",
            ],
        )
    except ValueError:
        dvc = None
    try:
        adds_full = parquet_read_columns(blob, ["add"])["add"]
    except (ValueError, NotImplementedError):
        adds_full = None
    try:
        stats_col = parquet_read_columns(blob, ["add.stats"])["add.stats"]
    except ValueError:
        stats_col = None
    try:
        meta_ids = parquet_read_columns(blob, ["metaData.id"])["metaData.id"]
    except ValueError:
        meta_ids = [None] * len(cols["add.path"])
    saw_metadata = any(mid is not None for mid in meta_ids)
    for i, p in enumerate(cols["add.path"]):
        if p is None:
            continue
        dv = None
        if dvc is not None and dvc["add.deletionVector.storageType"][i] is not None:
            dv = {
                "storageType": dvc["add.deletionVector.storageType"][i],
                "pathOrInlineDv": dvc["add.deletionVector.pathOrInlineDv"][i],
                "offset": dvc["add.deletionVector.offset"][i],
                "sizeInBytes": dvc["add.deletionVector.sizeInBytes"][i],
                "cardinality": dvc["add.deletionVector.cardinality"][i],
            }
        pv = None
        if adds_full is not None and adds_full[i] is not None:
            raw_pv = adds_full[i].get("partitionValues")
            if isinstance(raw_pv, list):
                raw_pv = dict(raw_pv)  # MAP column → (k, v) tuples
            pv = raw_pv
        stats = stats_col[i] if stats_col is not None else None
        live[p] = (ckpt_version, cols["add.size"][i], dv, pv, stats)
    return saw_metadata


def _replay_from_v2_checkpoint(
    members: dict,
    ckpt_version: int,
    manifest_name: str,
    commits: list,
    version: "int | None" = None,
) -> dict:
    """V2 checkpoints (round 16, VERDICT r15 next-round #3 — the form
    modern Databricks-written tables arrive in): the UUID-named
    manifest (`<V>.checkpoint.<uuid>.json|parquet`) carries the
    non-file actions, exactly one ``checkpointMetadata`` action whose
    ``version`` must equal the file-name version, and ``sidecar``
    actions naming parquet files under ``_delta_log/_sidecars/`` that
    hold the add-file state. File actions may also live in the
    manifest directly (the sidecar-less small-table form). State is
    seeded from manifest + sidecars, then commits AFTER the
    checkpoint replay as usual."""
    blob = members[manifest_name]
    live: dict = {}
    saw_metadata = False
    sidecars: list[str] = []
    ckpt_meta_version: "int | None" = None
    if manifest_name.endswith(".json"):
        for line in blob.splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "checkpointMetadata" in action:
                if ckpt_meta_version is not None:
                    raise ValueError(
                        "delta: v2 manifest carries multiple "
                        "checkpointMetadata actions"
                    )
                ckpt_meta_version = action["checkpointMetadata"]["version"]
            elif "sidecar" in action:
                sidecars.append(action["sidecar"]["path"])
            elif "protocol" in action:
                _check_protocol(action["protocol"])
            elif "metaData" in action:
                saw_metadata = True
            elif "add" in action:
                a = action["add"]
                live[a["path"]] = (
                    ckpt_version,
                    a.get("size"),
                    a.get("deletionVector"),
                    a.get("partitionValues"),
                    a.get("stats"),
                )
            # remove rows in a checkpoint are expired tombstones
    else:
        try:
            mrvs = parquet_read_columns(
                blob, ["protocol.minReaderVersion"]
            )["protocol.minReaderVersion"]
        except ValueError:
            mrvs = []
        for mrv in mrvs:
            if mrv is not None and mrv not in (1, 2, 3):
                raise NotImplementedError(
                    f"delta: checkpointed minReaderVersion {mrv} not supported"
                )
        saw_metadata = _parquet_adds_into_live(
            blob, ckpt_version, live, required=False
        )
        try:
            sc = parquet_read_columns(
                blob, ["sidecar.path", "checkpointMetadata.version"]
            )
        except ValueError:
            raise ValueError(
                "delta: v2 parquet manifest lacks sidecar/"
                "checkpointMetadata columns"
            )
        vers = [v for v in sc["checkpointMetadata.version"] if v is not None]
        if len(vers) != 1:
            raise ValueError(
                "delta: v2 manifest must carry exactly one "
                "checkpointMetadata action"
            )
        ckpt_meta_version = vers[0]
        sidecars = [p for p in sc["sidecar.path"] if p is not None]
    if ckpt_meta_version is None:
        raise ValueError(
            "delta: v2 manifest must carry exactly one checkpointMetadata "
            "action"
        )
    if ckpt_meta_version != ckpt_version:
        raise ValueError(
            f"delta: checkpointMetadata.version {ckpt_meta_version} != "
            f"manifest file version {ckpt_version}"
        )
    for raw in sidecars:
        s_name = _sidecar_path(raw)
        s_blob = members.get(s_name)
        if s_blob is None:
            raise ValueError(f"delta: sidecar file {s_name!r} missing")
        saw_metadata = (
            _parquet_adds_into_live(s_blob, ckpt_version, live) or saw_metadata
        )
    if not saw_metadata:
        raise ValueError("delta: checkpoint has no metaData row")
    later = sorted((v, b) for v, b in commits if v > ckpt_version)
    if [v for v, _ in later] != list(
        range(ckpt_version + 1, ckpt_version + 1 + len(later))
    ):
        raise ValueError("delta: commit versions after checkpoint must be gapless")
    if version is not None:
        if version > (later[-1][0] if later else ckpt_version):
            raise ValueError(f"delta: version {version} not in the log")
        later = [(v, b) for v, b in later if v <= version]
    for v, blob in later:
        _apply_commit(blob, v, live)
    return live


def _last_metadata(members: dict) -> "dict | None":
    """The LAST metaData action across the JSON log — falling back to
    the checkpoint parquet when the commit carrying it was vacuumed
    (round 15, ADVICE r14: a checkpointed column-mapped table must
    not lose its mapping). Checkpoint metaData rows store
    schemaString as a string column and configuration as a real
    parquet MAP column (read through the generic Dremel path)."""
    meta = None
    for name in sorted(members):
        if not _COMMIT_RE.match(name):
            continue
        for line in members[name].splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "metaData" in action:
                meta = action["metaData"]
    if meta is not None:
        return meta
    # v2 checkpoint manifests carry the metaData action (round 16) —
    # JSON manifests inline, parquet manifests as the metaData column
    v2 = sorted(
        (int(m.group(1)), m.group(0))
        for m in map(_V2_CKPT_RE.match, members)
        if m
    )
    if v2:
        _v, m_name = v2[-1]
        blob = members[m_name]
        if m_name.endswith(".json"):
            for line in blob.splitlines():
                if not line.strip():
                    continue
                action = json.loads(line)
                if "metaData" in action:
                    return action["metaData"]
            return None
        # parquet manifest: fall through to the shared column read below
    else:
        lc = members.get("_delta_log/_last_checkpoint")
        if lc is None:
            return None
        lc_meta = json.loads(lc.decode("utf-8"))
        v = lc_meta["version"]
        parts = lc_meta.get("parts")
        if parts:
            # multi-part (round 16): the metaData row lives in ONE part
            for p in range(1, parts + 1):
                part = members.get(
                    f"_delta_log/{v:020d}.checkpoint."
                    f"{p:010d}.{parts:010d}.parquet"
                )
                if part is None:
                    continue
                for row in parquet_read_columns(part, ["metaData"])["metaData"]:
                    if row is not None and row.get("id") is not None:
                        meta = dict(row)
                        cfg = meta.get("configuration")
                        if isinstance(cfg, list):
                            meta["configuration"] = dict(cfg)
                        return meta
            return None
        blob = members.get(f"_delta_log/{v:020d}.checkpoint.parquet")
    if blob is None:
        return None
    for row in parquet_read_columns(blob, ["metaData"])["metaData"]:
        if row is not None and row.get("id") is not None:
            meta = dict(row)
            cfg = meta.get("configuration")
            if isinstance(cfg, list):  # MAP column → (k, v) tuples
                meta["configuration"] = dict(cfg)
            return meta
    return None


def delta_column_resolution(tar_payload: bytes) -> "tuple[str, dict] | None":
    """The table's column-mapping declaration: ``None`` for mode
    none, ``("name", {logical: physicalName})`` for mode=name,
    ``("id", {logical: fieldId})`` for mode=id (round 15 — files are
    matched by the parquet SchemaElement field_id the annotation
    pins, the resolution that survives BOTH renames and physical-name
    drift)."""
    members = dict(tar_members(tar_payload))
    meta = _last_metadata(members)
    if meta is None:
        return None
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode in ("none", ""):
        return None
    if mode not in ("name", "id"):
        raise ValueError(f"delta: unknown columnMapping.mode {mode!r}")
    schema = json.loads(meta["schemaString"])
    mapping: dict = {}
    key = (
        "delta.columnMapping.physicalName"
        if mode == "name"
        else "delta.columnMapping.id"
    )
    for f in schema.get("fields", []):
        val = (f.get("metadata") or {}).get(key)
        if val is None:
            raise ValueError(
                f"delta: mapped table field {f.get('name')!r} has no "
                f"{key.rsplit('.', 1)[1]}"
            )
        mapping[f["name"]] = val
    return (mode, mapping)


def delta_column_mapping(tar_payload: bytes) -> "dict[str, str] | None":
    """Logical → PHYSICAL column names when the table declares
    ``delta.columnMapping.mode = name`` (round 14 s3): the LAST
    metaData action's schemaString carries per-field
    ``delta.columnMapping.physicalName`` annotations, and the parquet
    files store the physical names — a reader that matches logical
    names directly reads nothing on real mapped tables (the mode that
    makes column RENAME a metadata-only operation). Checkpoint-aware
    since round 15; mode=id resolves through
    :func:`delta_column_resolution` / field ids instead."""
    res = delta_column_resolution(tar_payload)
    if res is None or res[0] != "name":
        return None
    return res[1]


def delta_snapshot_rows(
    tar_payload: bytes,
    columns: list[str],
    version: "int | None" = None,
    timestamp: "int | None" = None,
) -> list[tuple[int, dict]]:
    """Live snapshot → rows: ``[(version_added, {col: value})]`` by
    decoding every live file through the from-scratch parquet reader;
    rows named by a file's deletion vector drop out (round 14).
    Column-mapped tables resolve logical names through the metaData
    schema — physicalName annotations for mode=name (round 14 s3),
    parquet field ids for mode=id (round 15; files without ids fall
    back to the schema's physicalName annotation when present).
    ``version`` time-travels (VERSION AS OF, round 15): replay stops
    after that commit; history older than the checkpoint is typed.
    ``timestamp`` (millis) resolves TIMESTAMP AS OF through
    :func:`delta_version_at_timestamp` (round 17) — mutually
    exclusive with ``version``."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("delta: give version OR timestamp, not both")
        version = delta_version_at_timestamp(tar_payload, timestamp)
    res = delta_column_resolution(tar_payload)
    out: list[tuple[int, dict]] = []
    if res is not None and res[0] == "id":
        ids = res[1]
        # physicalName fallback for id-less files (real id-mode tables
        # annotate both)
        meta = _last_metadata(dict(tar_members(tar_payload)))
        schema = json.loads(meta["schemaString"])
        pn = {
            f["name"]: (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", f["name"]
            )
            for f in schema.get("fields", [])
        }
        members = dict(tar_members(tar_payload))
        for _path, ver, data, dead in _finalize(
            members, _resolve_live(members, version)
        ):
            phys_by_id = {}
            for el in parquet_footer(data)["schema"]:
                fid = el.get("field_id")
                if fid is not None and not el.get("num_children"):
                    phys_by_id[fid] = el["name"]
            phys = [
                phys_by_id.get(ids.get(c), pn.get(c, c)) for c in columns
            ]
            cols = parquet_read_columns(data, phys)
            for i in range(len(cols[phys[0]])):
                if i in dead:
                    continue
                out.append(
                    (ver, {c: cols[p][i] for c, p in zip(columns, phys)})
                )
        return out
    mapping = res[1] if res is not None else None
    phys = [mapping.get(c, c) for c in columns] if mapping else list(columns)
    members = dict(tar_members(tar_payload))
    # VARIANT columns (round 17): the schema's "variant" type maps to
    # a parquet group {metadata BINARY, value BINARY}; both halves
    # read through the dotted-path reader and decode per
    # VariantEncoding.md into Python dict/list/scalar values
    variant_cols: set = set()
    meta0 = _last_metadata(members)
    if meta0 is not None and meta0.get("schemaString"):
        variant_cols = {
            f["name"]
            for f in json.loads(meta0["schemaString"]).get("fields", [])
            if f.get("type") == "variant"
        }
    # typeWidening (round 17): when the protocol declares the feature,
    # files written under a NARROWER type upcast to the CURRENT schema
    # type. int→long and float→double are value-identity in this
    # Python materialization; date→timestampNtz (the protocol's
    # date-widening case) converts epoch days → midnight micros, keyed
    # off each file's own physical type (an INT64 column already holds
    # micros and must NOT re-convert).
    widen_types: "dict[str, str] | None" = None
    if _type_widening_enabled(members):
        meta = _last_metadata(members)
        if meta is not None and meta.get("schemaString"):
            widen_types = {
                f["name"]: f["type"]
                for f in json.loads(meta["schemaString"]).get("fields", [])
                if isinstance(f.get("type"), str)
            }
    for _path, ver, data, dead in _finalize(
        members, _resolve_live(members, version)
    ):
        read_list = []
        for c, p in zip(columns, phys):
            if c in variant_cols:
                read_list += [p + ".metadata", p + ".value"]
            else:
                read_list.append(p)
        cols = parquet_read_columns(data, read_list)
        for c, p in zip(columns, phys):
            if c in variant_cols:
                cols[p] = [
                    None if md is None else variant_to_python(md, val)
                    for md, val in zip(
                        cols[p + ".metadata"], cols[p + ".value"]
                    )
                ]
        day_cols: set = set()
        if widen_types:
            leaf = {
                el["name"]: el["type"]
                for el in parquet_footer(data)["schema"]
                if not el.get("num_children")
            }
            day_cols = {
                p
                for c, p in zip(columns, phys)
                if widen_types.get(c) == "timestampNtz"
                and leaf.get(p) == "INT32"
            }
        n = len(cols[phys[0]])
        for i in range(n):
            if i in dead:
                continue
            out.append(
                (
                    ver,
                    {
                        c: (
                            cols[p][i] * 86_400_000_000
                            if p in day_cols and cols[p][i] is not None
                            else cols[p][i]
                        )
                        for c, p in zip(columns, phys)
                    },
                )
            )
    return out


def _type_widening_enabled(members: dict) -> bool:
    """Whether any protocol action in the JSON log declares the
    typeWidening readerFeature (the checkpoint-only-protocol case
    re-declares on the next commit in practice)."""
    for name in sorted(members):
        if not _COMMIT_RE.match(name):
            continue
        for line in members[name].splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            feats = action.get("protocol", {}).get("readerFeatures") or []
            if "typeWidening" in feats or "typeWidening-preview" in feats:
                return True
    return False


def _seed_checkpoint_state(
    blob: bytes, base_v: int
) -> "tuple[dict, dict | None, int | None]":
    """Seed (live, metaData action, minReaderVersion) from an existing
    checkpoint parquet — the roll-forward half of re-checkpointing."""
    cols = parquet_read_columns(
        blob,
        ["add.path", "add.size", "protocol.minReaderVersion"],
    )
    try:
        dvc = parquet_read_columns(
            blob,
            [
                "add.deletionVector.storageType",
                "add.deletionVector.pathOrInlineDv",
                "add.deletionVector.offset",
                "add.deletionVector.sizeInBytes",
                "add.deletionVector.cardinality",
            ],
        )
    except ValueError:
        dvc = None
    try:
        adds_full = parquet_read_columns(blob, ["add"])["add"]
    except (ValueError, NotImplementedError):
        adds_full = None
    try:
        stats_col = parquet_read_columns(blob, ["add.stats"])["add.stats"]
    except ValueError:
        stats_col = None
    live: dict = {}
    mrv = None
    for i in range(len(cols["add.path"])):
        if cols["protocol.minReaderVersion"][i] is not None:
            mrv = cols["protocol.minReaderVersion"][i]
        p = cols["add.path"][i]
        if p is not None:
            dv = None
            if dvc is not None and dvc["add.deletionVector.storageType"][i] is not None:
                dv = {
                    "storageType": dvc["add.deletionVector.storageType"][i],
                    "pathOrInlineDv": dvc["add.deletionVector.pathOrInlineDv"][i],
                    "offset": dvc["add.deletionVector.offset"][i],
                    "sizeInBytes": dvc["add.deletionVector.sizeInBytes"][i],
                    "cardinality": dvc["add.deletionVector.cardinality"][i],
                }
            pv = None
            if adds_full is not None and adds_full[i] is not None:
                raw_pv = adds_full[i].get("partitionValues")
                if isinstance(raw_pv, list):
                    raw_pv = dict(raw_pv)
                pv = raw_pv
            stats = stats_col[i] if stats_col is not None else None
            live[p] = (base_v, cols["add.size"][i], dv, pv, stats)
    meta = None
    for row in parquet_read_columns(blob, ["metaData"])["metaData"]:
        if row is not None and row.get("id") is not None:
            meta = dict(row)
            cfg = meta.get("configuration")
            if isinstance(cfg, list):
                meta["configuration"] = dict(cfg)
            break
    return live, meta, mrv


def delta_checkpoint_table(tar_payload: bytes, version: int | None = None) -> bytes:
    """Rewrite a pure-JSON-log table archive into CHECKPOINTED form:
    resolve the state at ``version`` (default: the latest commit),
    emit ``<V>.checkpoint.parquet`` through the from-scratch parquet
    writer (nested-struct action rows — protocol / metaData / add
    struct columns, the exact layout the round-13 reader consumes)
    plus ``_last_checkpoint``, DELETE commits ≤ V (proving replay
    never needs them — real log retention does exactly this), and
    keep later commits verbatim. Live files carrying deletion vectors
    are a typed boundary (their checkpoint rows need two-level struct
    nesting). Re-checkpointing a checkpointed table seeds from the
    existing checkpoint and rolls it forward (round 15 — real log
    retention re-checkpoints every N commits)."""
    members = dict(tar_members(tar_payload))
    live: dict[str, tuple[int, int | None, dict | None]] = {}
    metadata_action: dict | None = None
    protocol_action: dict | None = None
    base_v = -1
    old_ckpt_name = None
    lc = members.get("_delta_log/_last_checkpoint")
    if lc is not None:
        base_v = json.loads(lc.decode("utf-8"))["version"]
        old_ckpt_name = f"_delta_log/{base_v:020d}.checkpoint.parquet"
        blob0 = members.get(old_ckpt_name)
        if blob0 is None:
            raise ValueError(f"delta: _last_checkpoint names missing {old_ckpt_name}")
        live, metadata_action, mrv0 = _seed_checkpoint_state(blob0, base_v)
        if mrv0 is not None:
            protocol_action = {"minReaderVersion": mrv0}
    commits: list[tuple[int, bytes]] = []
    for name in members:
        m = _COMMIT_RE.match(name)
        if m:
            commits.append((int(m.group(1)), members[name]))
    if not commits and base_v < 0:
        raise ValueError("delta: no commit files under _delta_log/")
    commits.sort()
    if [v for v, _ in commits] != list(
        range(base_v + 1, base_v + 1 + len(commits))
    ):
        raise ValueError(
            "delta: commit versions must be gapless from "
            + ("0" if base_v < 0 else f"the checkpoint ({base_v + 1})")
        )
    last = commits[-1][0] if commits else base_v
    v = last if version is None else version
    if not max(base_v, 0) <= v <= last:
        raise ValueError(f"delta: checkpoint version {v} outside log range")

    for cv, blob in commits:
        if cv > v:
            break
        for line in blob.splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "metaData" in action:
                metadata_action = action["metaData"]
            elif "protocol" in action:
                _check_protocol(action["protocol"])
                protocol_action = action["protocol"]
        _apply_commit(blob, cv, live)
    if metadata_action is None:
        raise ValueError("delta: table has no metaData action")

    # one action per row: protocol, metaData, then adds in path order;
    # live deletion vectors ride as the nested add.deletionVector
    # struct (round 14 second pass — the writer recurses now)
    paths = sorted(live)
    n = 2 + len(paths)
    prs: list = [
        {
            "minReaderVersion": (protocol_action or {}).get("minReaderVersion", 1)
        }
    ] + [None] * (n - 1)
    # metaData rows carry the FULL self-describing payload since round
    # 15 (schemaString + configuration as a real parquet MAP column):
    # a checkpointed column-mapped table keeps its mapping after the
    # carrying commit is vacuumed (_last_metadata recovers it)
    md_row: dict = {"id": str(metadata_action.get("id", ""))}
    if metadata_action.get("schemaString") is not None:
        md_row["schemaString"] = metadata_action["schemaString"]
    cfg = metadata_action.get("configuration") or {}
    md_row["configuration"] = {str(k): str(v) for k, v in cfg.items()} or None
    mds: list = [None, md_row] + [None] * (n - 2)
    adds: list = [None, None]
    for p in paths:
        _ver, size, dv, pv, stats = live[p]
        row = {"path": p, "size": size, "partitionValues": pv,
               "stats": stats}
        if dv is not None:
            row["deletionVector"] = {
                "storageType": dv.get("storageType"),
                "pathOrInlineDv": dv.get("pathOrInlineDv"),
                "offset": dv.get("offset"),
                "sizeInBytes": dv.get("sizeInBytes"),
                "cardinality": dv.get("cardinality"),
            }
        else:
            row["deletionVector"] = None
        adds.append(row)
    # the remove column is part of the checkpoint schema even with no
    # unexpired tombstones (the round-13 reader selects it by name)
    rms: list = [None] * n
    ckpt = parquet_write(
        {"protocol": prs, "metaData": mds, "add": adds, "remove": rms},
        types={
            "protocol": {"minReaderVersion": "INT32"},
            "metaData": {
                "id": "BYTE_ARRAY",
                "schemaString": "BYTE_ARRAY",
                "configuration": pmap("BYTE_ARRAY", "BYTE_ARRAY"),
            },
            "add": {
                "path": "BYTE_ARRAY",
                "size": "INT64",
                "partitionValues": pmap("BYTE_ARRAY", "BYTE_ARRAY"),
                "stats": "BYTE_ARRAY",
                "deletionVector": {
                    "storageType": "BYTE_ARRAY",
                    "pathOrInlineDv": "BYTE_ARRAY",
                    "offset": "INT64",
                    "sizeInBytes": "INT64",
                    "cardinality": "INT64",
                },
            },
            "remove": {"path": "BYTE_ARRAY"},
        },
        codec="SNAPPY",
    )
    out = []
    for name, data in members.items():
        m = _COMMIT_RE.match(name)
        if m and int(m.group(1)) <= v:
            continue  # retention: replay must not need these
        if name == "_delta_log/_last_checkpoint" or name == old_ckpt_name:
            continue  # superseded by the new checkpoint
        out.append((name, data))
    out.append(
        (
            "_delta_log/_last_checkpoint",
            json.dumps({"version": v, "size": n}).encode("utf-8"),
        )
    )
    out.append((f"_delta_log/{v:020d}.checkpoint.parquet", ckpt))
    return tar_build(sorted(out))


def delta_checkpoint_table_v2(
    tar_payload: bytes,
    version: "int | None" = None,
    manifest_format: str = "json",
    n_sidecars: int = 1,
) -> bytes:
    """Rewrite a table archive into V2-CHECKPOINT form (round 16,
    VERDICT r15 next-round #3 — how modern Databricks tables arrive):
    the add-file state lands in ``n_sidecars`` parquet SIDECAR files
    under ``_delta_log/_sidecars/`` (names derived from a content
    digest — deterministic, no clock), the UUID-named manifest
    ``<V>.checkpoint.<uuid>.{json|parquet}`` carries protocol (+
    ``v2Checkpoint`` readerFeature), metaData, exactly one
    ``checkpointMetadata {version}`` action, and one ``sidecar``
    action per file; commits ≤ V are deleted (retention) and
    ``_last_checkpoint`` records V. The read side resolves via
    :func:`_replay_from_v2_checkpoint`."""
    import hashlib as _hashlib

    if manifest_format not in ("json", "parquet"):
        raise ValueError(f"delta: v2 manifest format {manifest_format!r}")
    if n_sidecars < 1:
        raise ValueError("delta: v2 checkpoint needs >= 1 sidecar")
    members = dict(tar_members(tar_payload))
    commits = sorted(
        int(m.group(1)) for m in map(_COMMIT_RE.match, members) if m
    )
    if not commits:
        raise ValueError("delta: no commit files under _delta_log/")
    v = commits[-1] if version is None else version
    live = _resolve_live(members, version=v)
    metadata_action = _last_metadata(members)
    if metadata_action is None:
        raise ValueError("delta: table has no metaData action")
    # protocol: upgrade to the v2Checkpoint feature set, keeping any
    # features the log already declared
    reader_feats, writer_feats = {"v2Checkpoint"}, {"v2Checkpoint"}
    for name in sorted(members):
        if not _COMMIT_RE.match(name):
            continue
        for line in members[name].splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "protocol" in action:
                reader_feats |= set(action["protocol"].get("readerFeatures") or [])
                writer_feats |= set(action["protocol"].get("writerFeatures") or [])
    protocol_action = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(reader_feats),
        "writerFeatures": sorted(writer_feats),
    }

    # shard the live add rows round-robin into sidecar parquet files
    paths = sorted(live)
    shards: list[list[str]] = [paths[i::n_sidecars] for i in range(n_sidecars)]
    add_types = {
        "path": "BYTE_ARRAY",
        "size": "INT64",
        "partitionValues": pmap("BYTE_ARRAY", "BYTE_ARRAY"),
        "stats": "BYTE_ARRAY",
        "deletionVector": {
            "storageType": "BYTE_ARRAY",
            "pathOrInlineDv": "BYTE_ARRAY",
            "offset": "INT64",
            "sizeInBytes": "INT64",
            "cardinality": "INT64",
        },
    }

    def _add_row(p):
        _ver, size, dv, pv, stats = live[p]
        return {
            "path": p,
            "size": size,
            "partitionValues": pv,
            "stats": stats,
            "deletionVector": (
                {
                    "storageType": dv.get("storageType"),
                    "pathOrInlineDv": dv.get("pathOrInlineDv"),
                    "offset": dv.get("offset"),
                    "sizeInBytes": dv.get("sizeInBytes"),
                    "cardinality": dv.get("cardinality"),
                }
                if dv is not None
                else None
            ),
        }

    sidecar_members: list[tuple[str, bytes]] = []
    sidecar_actions: list[dict] = []
    for shard in shards:
        blob = parquet_write(
            {
                "add": [_add_row(p) for p in shard],
                "remove": [None] * len(shard),
            },
            types={"add": add_types, "remove": {"path": "BYTE_ARRAY"}},
            codec="SNAPPY",
        )
        digest = _hashlib.md5(blob).hexdigest()
        s_name = f"{_uuid_from_hex(digest)}.parquet"
        sidecar_members.append((f"_delta_log/_sidecars/{s_name}", blob))
        sidecar_actions.append({"path": s_name, "sizeInBytes": len(blob)})

    manifest_uuid = _uuid_from_hex(
        _hashlib.md5(b"".join(b for _, b in sidecar_members)).hexdigest()
    )
    md_action = {
        k: metadata_action[k]
        for k in ("id", "format", "schemaString", "partitionColumns",
                  "configuration")
        if k in metadata_action
    }
    if manifest_format == "json":
        lines = [
            {"checkpointMetadata": {"version": v}},
            {"protocol": protocol_action},
            {"metaData": md_action},
        ] + [{"sidecar": s} for s in sidecar_actions]
        manifest = (
            "\n".join(json.dumps(a) for a in lines) + "\n"
        ).encode("utf-8")
        m_name = f"_delta_log/{v:020d}.checkpoint.{manifest_uuid}.json"
    else:
        n = 3 + len(sidecar_actions)
        # full protocol + metaData fidelity (ADVICE r16): mrv 3 without
        # readerFeatures is an INVALID protocol action per the spec, and
        # a partitioned table whose parquet manifest drops
        # partitionColumns loses its partition scan — mirror the
        # JSON-manifest branch field for field
        manifest = parquet_write(
            {
                "checkpointMetadata": [{"version": v}] + [None] * (n - 1),
                "protocol": [
                    None,
                    {
                        "minReaderVersion": protocol_action["minReaderVersion"],
                        "minWriterVersion": protocol_action["minWriterVersion"],
                        "readerFeatures": protocol_action["readerFeatures"],
                        "writerFeatures": protocol_action["writerFeatures"],
                    },
                ] + [None] * (n - 2),
                "metaData": [
                    None,
                    None,
                    {
                        "id": str(md_action.get("id", "")),
                        "format": {
                            "provider": (md_action.get("format") or {}).get(
                                "provider", "parquet"
                            )
                        },
                        "schemaString": md_action.get("schemaString"),
                        "partitionColumns": md_action.get("partitionColumns"),
                        "configuration": {
                            str(k): str(val)
                            for k, val in (md_action.get("configuration") or {}).items()
                        } or None,
                    },
                ] + [None] * (n - 3),
                "sidecar": [None, None, None] + [
                    {"path": s["path"], "sizeInBytes": s["sizeInBytes"]}
                    for s in sidecar_actions
                ],
                "remove": [None] * n,
            },
            types={
                "checkpointMetadata": {"version": "INT64"},
                "protocol": {
                    "minReaderVersion": "INT32",
                    "minWriterVersion": "INT32",
                    "readerFeatures": plist("BYTE_ARRAY"),
                    "writerFeatures": plist("BYTE_ARRAY"),
                },
                "metaData": {
                    "id": "BYTE_ARRAY",
                    "format": {"provider": "BYTE_ARRAY"},
                    "schemaString": "BYTE_ARRAY",
                    "partitionColumns": plist("BYTE_ARRAY"),
                    "configuration": pmap("BYTE_ARRAY", "BYTE_ARRAY"),
                },
                "sidecar": {"path": "BYTE_ARRAY", "sizeInBytes": "INT64"},
                "remove": {"path": "BYTE_ARRAY"},
            },
            codec="SNAPPY",
        )
        m_name = f"_delta_log/{v:020d}.checkpoint.{manifest_uuid}.parquet"

    out = []
    for name, data in members.items():
        m = _COMMIT_RE.match(name)
        if m and int(m.group(1)) <= v:
            continue  # retention: replay must not need these
        if name == "_delta_log/_last_checkpoint" or ".checkpoint." in name:
            continue  # superseded by the v2 checkpoint
        out.append((name, data))
    out.extend(sidecar_members)
    out.append((m_name, manifest))
    out.append(
        (
            "_delta_log/_last_checkpoint",
            json.dumps({"version": v}).encode("utf-8"),
        )
    )
    return tar_build(sorted(out))


def _uuid_from_hex(hex32: str) -> str:
    """Canonical uuid string from a 32-char hex digest (deterministic
    checkpoint/sidecar naming — no clock, no RNG)."""
    import uuid as _uuid

    return str(_uuid.UUID(hex=hex32))


def _file_rows(
    members: dict, path: str, cols: list[str]
) -> list[dict]:
    data = members.get(path)
    if data is None:
        raise ValueError(
            f"delta: change feed needs {path!r} but it was vacuumed"
        )
    vals = parquet_read_columns(data, cols)
    n = len(vals[cols[0]]) if cols else 0
    return [{c: vals[c][i] for c in cols} for i in range(n)]


def delta_change_feed(
    tar_payload: bytes,
    from_version: int,
    to_version: "int | None" = None,
    columns: "list[str] | None" = None,
) -> list[tuple[int, str, dict]]:
    """CHANGE DATA FEED (round 16; per-row path round 17, VERDICT r16
    #2): the rows that changed in versions ``(from_version,
    to_version]`` as ``[(commit_version, change_type, row)]`` — how an
    incremental consumer reads a Delta table without rescanning the
    snapshot (Spark's ``readChangeFeed``). Semantics per the protocol:

    * a commit carrying ``cdc`` actions IS the change record: its
      ``_change_data`` parquet files carry the rows with a
      ``_change_type`` column (``insert`` / ``delete`` /
      ``update_preimage`` / ``update_postimage``), and add/remove
      synthesis is SUPPRESSED for that commit — real Spark reads cdc
      files and ignores the rewrite actions beside them (a reader
      that emits both double-counts every MERGE/UPDATE);
    * otherwise an ``add`` with ``dataChange: true`` emits its file's
      LIVE rows (minus any deletion vector it carries) as inserts; a
      ``remove`` with ``dataChange: true`` emits the removed file's
      rows MINUS the rows its prior DV had already deleted (emitting
      those again would double-count them — ADVICE r16);
    * a remove + re-``add`` of the SAME path where the add carries a
      deletion vector is a DV UPDATE: the per-row deletes are the DV
      DIFF (new dead minus old dead), exactly the rows this commit
      killed — previously a typed reject;
    * ``dataChange: false`` actions (compaction / OPTIMIZE rewrites)
      emit NOTHING — the data did not change, only its layout;
    * a needed file's bytes must still be present (not vacuumed) —
      typed error otherwise, matching Spark's CDF retention error.

    State (which DV each live file carried) is seeded at
    ``from_version`` through the shared replay core, so
    checkpoint-trimmed logs work as long as ``from_version`` is not
    older than the checkpoint (same rule as time travel).
    """
    members = dict(tar_members(tar_payload))
    commits = sorted(
        (int(m.group(1)), name)
        for name, m in ((n, _COMMIT_RE.match(n)) for n in members)
        if m
    )
    if not commits:
        raise ValueError("delta: no commit files under _delta_log/")
    last = commits[-1][0]
    hi = last if to_version is None else to_version
    if not from_version <= hi <= last:
        raise ValueError(
            f"delta: change range ({from_version}, {hi}] outside the log"
        )
    cols = columns or ["doc_id"]
    # dead-row state per live path at from_version (DV diffing needs
    # the OLD dead set when a commit swaps descriptors)
    dead_state: dict[str, frozenset] = {}
    for path, (_v, _s, dv, _pv, _st) in _resolve_live(
        members, version=from_version
    ).items():
        dead_state[path] = (
            _dv_dead_rows(members, dv) if dv is not None else frozenset()
        )
    out: list[tuple[int, str, dict]] = []
    for v, name in commits:
        if v <= from_version or v > hi:
            continue
        adds: dict[str, dict] = {}
        removes: dict[str, dict] = {}
        cdc_paths: list[str] = []
        for line in members[name].splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "add" in action:
                adds[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                removes[action["remove"]["path"]] = action["remove"]
            elif "cdc" in action:
                cdc_paths.append(action["cdc"]["path"])
        if cdc_paths:
            # per-row path: the cdc files ARE the feed for this commit
            for path in cdc_paths:
                for row in _file_rows(
                    members, path, [*cols, "_change_type"]
                ):
                    change = row.pop("_change_type")
                    out.append((v, change, row))
        else:
            for path in sorted(set(adds) | set(removes)):
                a = adds.get(path)
                r = removes.get(path)
                if a is not None and r is not None:
                    # same-path remove + re-add in one commit
                    if not a.get("dataChange", True):
                        continue  # OPTIMIZE-shaped rewrite
                    old_dead = dead_state.get(path, frozenset())
                    new_dead = (
                        _dv_dead_rows(members, a["deletionVector"])
                        if a.get("deletionVector") is not None
                        else frozenset()
                    )
                    rows = _file_rows(members, path, cols)
                    if a.get("deletionVector") is not None:
                        # DV update: deletes = the rows THIS commit
                        # killed (new dead minus old dead)
                        for i in sorted(new_dead - old_dead):
                            out.append((v, "delete", rows[i]))
                    else:
                        # content rewrite: old live rows out, new in
                        for i, row in enumerate(rows):
                            if i not in old_dead:
                                out.append((v, "delete", row))
                        for row in rows:
                            out.append((v, "insert", row))
                elif r is not None:
                    if not r.get("dataChange", True):
                        continue
                    old_dead = dead_state.get(path, frozenset())
                    for i, row in enumerate(_file_rows(members, path, cols)):
                        if i not in old_dead:
                            out.append((v, "delete", row))
                else:
                    if not a.get("dataChange", True):
                        continue
                    dead = (
                        _dv_dead_rows(members, a["deletionVector"])
                        if a.get("deletionVector") is not None
                        else frozenset()
                    )
                    for i, row in enumerate(_file_rows(members, path, cols)):
                        if i not in dead:
                            out.append((v, "insert", row))
        # roll state forward (also for cdc commits: their add/remove
        # actions still change the live file set)
        for path in removes:
            dead_state.pop(path, None)
        for path, a in adds.items():
            dead_state[path] = (
                _dv_dead_rows(members, a["deletionVector"])
                if a.get("deletionVector") is not None
                else frozenset()
            )
    return out


# ---------------------------------------------------------------------------
# File-level column-stats data skipping — round 17 (VERDICT r16 #1)
# ---------------------------------------------------------------------------
# The planner layer every real Delta table has: each ``add`` carries a
# ``stats`` JSON string ({numRecords, minValues, maxValues, nullCount})
# and engines prune whole FILES on it before touching any parquet
# footer. At 100 TB this is the difference between O(matching files)
# and O(table) for any selective predicate — the row-group/page layers
# below only help once a file is already open.

#: predicate ops understood by the stats pruner (conjunctive list of
#: ``(column, op, value)``; value is ignored for the null ops)
_STATS_OPS = ("==", "<", "<=", ">", ">=", "is_null", "not_null")


def delta_stats(cols: "dict[str, list]") -> str:
    """Writer-side stats for one data file's columns → the ``stats``
    JSON string of the add action (protocol: Per-file Statistics).
    min/max are over non-null values only; a column of all nulls gets
    no min/max entry (matching real writers), nullCount records the
    rest. Deterministic key order for byte-stable commits."""
    n = len(next(iter(cols.values()))) if cols else 0
    min_v: dict = {}
    max_v: dict = {}
    null_c: dict = {}
    for name in sorted(cols):
        vals = cols[name]
        if len(vals) != n:
            raise ValueError("delta: ragged columns in stats input")
        non_null = [v for v in vals if v is not None]
        null_c[name] = n - len(non_null)
        if non_null:
            if isinstance(non_null[0], (bytes, bytearray)):
                non_null = [
                    v.decode("utf-8", "replace") for v in non_null
                ]
            min_v[name] = min(non_null)
            max_v[name] = max(non_null)
    return json.dumps(
        {
            "numRecords": n,
            "minValues": min_v,
            "maxValues": max_v,
            "nullCount": null_c,
        },
        sort_keys=True,
    )


def _stats_admit(stats: "dict | None", col: str, op: str, value) -> bool:
    """Can a file whose parsed stats are ``stats`` contain a row
    matching ``col op value``? Missing stats / missing column entries
    always admit (pruning is an OPTIMIZATION — absence of evidence
    must never skip a file). None (SQL NULL) values never match a
    comparison op, so all-null columns admit only the null ops."""
    if op not in _STATS_OPS:
        raise ValueError(f"delta: unknown stats predicate op {op!r}")
    if stats is None:
        return True
    n = stats.get("numRecords")
    nulls = (stats.get("nullCount") or {}).get(col)
    if op == "is_null":
        return not (nulls == 0)
    if op == "not_null":
        return not (n is not None and nulls == n)
    if n is not None and nulls == n:
        return False  # every value NULL: no comparison can match
    lo = (stats.get("minValues") or {}).get(col)
    hi = (stats.get("maxValues") or {}).get(col)
    if lo is None or hi is None:
        return True
    try:
        if op == "==":
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
    except TypeError:
        return True  # cross-type probe: stats can't prove exclusion
    return True


def _row_matches(row: dict, predicate: list) -> bool:
    for col, op, value in predicate:
        v = row.get(col)
        if op == "is_null":
            if v is not None:
                return False
            continue
        if op == "not_null":
            if v is None:
                return False
            continue
        if v is None:
            return False
        if isinstance(v, (bytes, bytearray)):
            v = v.decode("utf-8", "replace")
        if op == "==" and not v == value:
            return False
        if op == "<" and not v < value:
            return False
        if op == "<=" and not v <= value:
            return False
        if op == ">" and not v > value:
            return False
        if op == ">=" and not v >= value:
            return False
    return True


def delta_stats_scan(
    tar_payload: bytes,
    columns: list[str],
    predicate: "list[tuple[str, str, object]]",
) -> tuple[list[dict], dict[str, int]]:
    """Stats-PRUNED snapshot scan (round 17): files whose ``add.stats``
    prove the conjunctive ``predicate`` (``[(col, op, value)]``, ops
    ==/</<=/>/>=/is_null/not_null) cannot match are never OPENED — the
    counters are the plan contract, exactly like the partition scan's.
    Files without stats always scan (pruning never invents evidence).
    Surviving files decode through the from-scratch reader, deletion
    vectors apply, and the predicate re-applies exactly per row.
    Stats survive checkpoints as a string column (the classic/v2
    readers above carry them back into the live tuple)."""
    members = dict(tar_members(tar_payload))
    res = delta_column_resolution(tar_payload)
    if res is not None and res[0] != "name":
        raise NotImplementedError(
            "delta: stats scan over an id-mapped table"
        )
    # mode=name (round 17): mapped tables key stats by PHYSICAL names;
    # logical predicates/columns translate here and rows emit logical
    to_phys: dict[str, str] = res[1] if res is not None else {}
    live = _resolve_live(members)
    counters = {"files_skipped": 0, "files_scanned": 0}
    out: list[dict] = []
    for path, (_version, size, dv, _pv, stats_raw) in sorted(live.items()):
        stats = json.loads(stats_raw) if stats_raw else None
        if not all(
            _stats_admit(stats, to_phys.get(col, col), op, value)
            for col, op, value in predicate
        ):
            counters["files_skipped"] += 1
            continue
        data = members.get(path)
        if data is None:
            raise ValueError(f"delta: added file {path!r} missing")
        if size is not None and size != len(data):
            raise ValueError(f"delta: size mismatch for {path!r}")
        counters["files_scanned"] += 1
        dead = _dv_dead_rows(members, dv) if dv is not None else frozenset()
        need = list(columns)
        for col, _op, _v in predicate:
            if col not in need:
                need.append(col)
        phys_need = [to_phys.get(c, c) for c in need]
        cols_raw = parquet_read_columns(data, phys_need)
        cols = {c: cols_raw[p] for c, p in zip(need, phys_need)}
        n = len(cols[need[0]]) if need else 0
        if stats is not None and stats.get("numRecords") not in (None, n):
            raise ValueError(
                f"delta: stats numRecords {stats['numRecords']} != "
                f"actual {n} for {path!r}"
            )
        for i in range(n):
            if i in dead:
                continue
            row = {c: cols[c][i] for c in need}
            if _row_matches(row, predicate):
                out.append({c: row[c] for c in columns})
    return out, counters


def delta_optimize(
    tar_payload: bytes, target_file_bytes: int = 1 << 22
) -> tuple[bytes, dict[str, int]]:
    """OPTIMIZE / compaction commit (round 17, VERDICT r16 #4): merge
    live files smaller than ``target_file_bytes`` into fewer files and
    append ONE commit of ``remove`` + ``add`` actions with
    ``dataChange: false`` — the layout-only marker the change feed
    already honors (a CDF consumer sees NOTHING for this commit).
    Mechanics matching real OPTIMIZE:

    * files bin-pack greedily in path order per partition (files from
      different partitions never merge); a group rewrites only when it
      has ≥2 files or its single file carries a deletion vector —
      rewriting PURGES the DV (dead rows drop physically, the new add
      carries none);
    * merged files get fresh ``stats`` (round 17's skipping layer
      stays accurate after compaction);
    * the snapshot's rows are byte-identical before and after (only
      layout changed); historical versions still resolve because old
      file bytes are retained (vacuum is a separate concern);
    * column-mapped tables stay typed.

    Returns ``(new_tar, {"files_in", "files_out"})`` — files_in/out
    count only the rewritten groups."""
    members = dict(tar_members(tar_payload))
    if delta_column_resolution(tar_payload) is not None:
        raise NotImplementedError("delta: optimize over a column-mapped table")
    resolved = _resolve_live(members)
    files = {p: (v, d, dead) for p, v, d, dead in delta_live_files_dv(tar_payload)}

    # candidates grouped by partitionValues (serialize to a hashable key)
    by_part: dict = {}
    for path in sorted(files):
        data = files[path][1]
        if len(data) >= target_file_bytes and not files[path][2]:
            continue
        pv = resolved[path][3] or {}
        by_part.setdefault(tuple(sorted(pv.items())), []).append(path)

    groups: list[tuple[tuple, list[str]]] = []
    for part_key, paths in by_part.items():
        bin_paths: list[str] = []
        bin_bytes = 0
        for p in paths:
            size = len(files[p][1])
            if bin_paths and bin_bytes + size > target_file_bytes:
                groups.append((part_key, bin_paths))
                bin_paths, bin_bytes = [], 0
            bin_paths.append(p)
            bin_bytes += size
        if bin_paths:
            groups.append((part_key, bin_paths))
    groups = [
        (pk, g)
        for pk, g in groups
        if len(g) >= 2 or files[g[0]][2]  # singleton only if DV'd
    ]
    counters = {"files_in": 0, "files_out": 0}
    if not groups:
        return tar_payload, counters

    versions = sorted(
        int(m.group(1)) for m in map(_COMMIT_RE.match, members) if m
    )
    next_v = (versions[-1] + 1) if versions else 0
    lc = members.get("_delta_log/_last_checkpoint")
    if lc is not None:
        next_v = max(next_v, json.loads(lc.decode("utf-8"))["version"] + 1)

    import hashlib as _hashlib

    actions: list[dict] = []
    new_members: list[tuple[str, bytes]] = []
    for part_key, group in groups:
        counters["files_in"] += len(group)
        # merge columns by the files' own leaf schemas (order + types
        # must agree — same-table files written by the same schema)
        first_schema = [
            (el["name"], el["type"])
            for el in parquet_footer(files[group[0]][1])["schema"]
            if not el.get("num_children")
        ]
        names = [n for n, _t in first_schema]
        types = {n: t for n, t in first_schema}
        merged: dict[str, list] = {n: [] for n in names}
        for p in group:
            _v, data, dead = files[p]
            schema = [
                (el["name"], el["type"])
                for el in parquet_footer(data)["schema"]
                if not el.get("num_children")
            ]
            if schema != first_schema:
                raise ValueError(
                    f"delta: optimize group schema mismatch at {p!r}"
                )
            cols = parquet_read_columns(data, names)
            n = len(cols[names[0]]) if names else 0
            for i in range(n):
                if i in dead:
                    continue  # purge DV'd rows physically
                for c in names:
                    merged[c].append(cols[c][i])
        blob = parquet_write(merged, types=types, codec="SNAPPY")
        name = f"part-opt-{_hashlib.md5(blob).hexdigest()}.parquet"
        new_members.append((name, blob))
        counters["files_out"] += 1
        pv = dict(part_key)
        for p in group:
            actions.append(
                {"remove": {"path": p, "dataChange": False}}
            )
        actions.append(
            {
                "add": {
                    "path": name,
                    "size": len(blob),
                    "dataChange": False,
                    "partitionValues": pv,
                    "stats": delta_stats(merged),
                }
            }
        )
    commit = b"\n".join(json.dumps(a).encode("utf-8") for a in actions) + b"\n"
    out = [(n, b) for n, b in members.items()]
    out.extend(new_members)
    out.append((f"_delta_log/{next_v:020d}.json", commit))
    return tar_build(sorted(out)), counters


def delta_version_at_timestamp(tar_payload: bytes, ts_millis: int) -> int:
    """TIMESTAMP AS OF resolution (round 17, VERDICT r16 #5): the
    latest version whose ``commitInfo.timestamp`` is ≤ the probe —
    Spark's rule for ``timestampAsOf``. Every present commit must
    carry a commitInfo timestamp (typed otherwise — without one the
    probe cannot be ordered), timestamps must be non-decreasing along
    versions (a reordered clock makes the binary search real engines
    run unsound — typed), and a probe older than the earliest
    available commit is typed (either before the table existed or
    inside vacuumed history)."""
    members = dict(tar_members(tar_payload))
    commits = sorted(
        (int(m.group(1)), name)
        for name, m in ((n, _COMMIT_RE.match(n)) for n in members)
        if m
    )
    if not commits:
        raise ValueError("delta: no commit files under _delta_log/")
    stamped: list[tuple[int, int]] = []
    for v, name in commits:
        ts = None
        for line in members[name].splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "commitInfo" in action:
                ci = action["commitInfo"]
                # inCommitTimestamps (Delta's ICT writer feature):
                # the monotonic in-protocol clock supersedes the
                # best-effort wall-clock `timestamp` when present
                ts = ci.get("inCommitTimestamp", ci.get("timestamp"))
                break
        if ts is None:
            raise NotImplementedError(
                f"delta: commit {v} carries no commitInfo.timestamp — "
                "cannot resolve TIMESTAMP AS OF"
            )
        stamped.append((v, int(ts)))
    for (v1, t1), (v2, t2) in zip(stamped, stamped[1:]):
        if t2 < t1:
            raise ValueError(
                f"delta: commit timestamps regress ({v1}:{t1} -> {v2}:{t2})"
            )
    candidates = [v for v, t in stamped if t <= ts_millis]
    if not candidates:
        raise ValueError(
            f"delta: timestamp {ts_millis} predates the earliest "
            f"available commit ({stamped[0][1]})"
        )
    return max(candidates)
