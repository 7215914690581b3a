"""ZIP archive codec from scratch (round 12): the PKWARE APPNOTE
layout — local file headers (PK\\x03\\x04), central directory entries
(PK\\x01\\x02), end-of-central-directory record (PK\\x05\\x06) located
by the backward signature scan the format requires (the trailing
variable-length comment means a reader MUST find EOCD from the end),
DOS mod time/date fields, and per-member CRC-32 verification — with
methods 0 (stored) and 8 (deflate through ``operators/png``: the
in-repo RFC 1951 encoder, stdlib zlib to inflate), both directions.

ZIP is the long tail of public dataset distribution: Kaggle exports,
academic benchmark releases (GLUE, SQuAD mirrors), image-archive drops
and government open-data portals all ship ``.zip`` — an ingest stack
that covers tar/WARC/gzip/zstd but not zip still can't open half of
what a data-collection crawl brings home. It joins the container
family (E90) as the random-access member: the central directory
means a reader can list and slice ONE member without streaming the
archive, the property the listing pass exploits.

ZIP64 (round 13): the 4.5 extension large archives actually use —
saturated 0xFFFF/0xFFFFFFFF fields redirect through the 0x0001 extra
field, the ZIP64 EOCD record (PK\\x06\\x06) and its locator
(PK\\x06\\x07) — both directions (``zip_build(zip64=True)`` emits the
full layout so fixtures exercise the path without 4 GiB files;
readers follow saturation per-field, so archives that zip64 only
SOME members parse too). Differential: stdlib ``zipfile`` with
``force_zip64`` writes, read back by us (tests/test_zip.py).

Boundaries, typed: encrypted members and spanned archives
raise ``NotImplementedError``; streaming members written with the
bit-3 data descriptor (sizes unknown at header time) raise too — the
central directory always has real sizes, so descriptor-written
archives from other tools still parse through the CD path; we reject
only when the CD itself is absent. All malformed-input paths raise
``ValueError`` (bad signatures, truncation, CRC mismatch,
size/declaration mismatch, bomb) so the quarantine keeps corrupt rows
as rows.

Oracle recipe: the container family's — member bytes through
build → parse must md5-match DuckDB's md5(text), with the method
column (stored vs deflate, cycled per member) pinned by the same SQL
hash. Wire vectors + roundtrip fuzz live in tests/test_zip.py.
"""

from __future__ import annotations

import struct
import zlib

from yark_spark.operators.png import inflate, zlib_compress

__all__ = ["zip_build", "zip_members", "zip_member_names"]

_LOCAL_SIG = b"PK\x03\x04"
_CENTRAL_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"
_Z64_EOCD_SIG = b"PK\x06\x06"
_Z64_LOCATOR_SIG = b"PK\x06\x07"

_STORED, _DEFLATE = 0, 8
_BZIP2, _LZMA, _ZSTD = 12, 14, 93  # APPNOTE 4.4.5 / 5.8 / PKWARE zstd

# fixed DOS timestamp (1980-01-01 00:00:00) — archives stay byte-
# deterministic; real mtimes would break fixture reproducibility
_DOS_TIME, _DOS_DATE = 0, 0x21


def zip_build(
    members: list[tuple[str, bytes]],
    methods: list[int] | None = None,
    zip64: bool = False,
) -> bytes:
    """Build a ZIP archive from (name, payload) members. ``methods``
    (0 stored / 8 deflate) per member; default deflates unless the
    deflate stream would be larger (the stored fallback every real
    zipper applies). ``zip64=True`` forces the full 4.5 layout —
    saturated central fields + 0x0001 extras, the ZIP64 EOCD record
    and locator — so readers exercise the large-archive path on small
    fixtures (exactly what ``zip -fz`` / zipfile's force_zip64 do)."""
    out = bytearray()
    central = bytearray()
    for i, (name, payload) in enumerate(members):
        nb = name.encode("utf-8")
        crc = zlib.crc32(payload)
        method = methods[i] if methods is not None else _DEFLATE
        if method == _DEFLATE:
            comp = zlib_compress(payload)[2:-4]  # raw RFC 1951 stream
            if methods is None and len(comp) >= len(payload):
                method, comp = _STORED, payload
        elif method == _STORED:
            comp = payload
        elif method == _BZIP2:
            from yark_spark.operators.bzip2 import bz2_compress

            comp = bz2_compress(payload)
        elif method == _LZMA:
            from yark_spark.operators.xz import _props_byte, lzma1_compress

            # APPNOTE 5.8 member layout: version (we stamp 9.4, the
            # APPNOTE revision this layout is specified in), 2-byte
            # props length, then the 5 LZMA props bytes that MUST
            # match the actual encoder parameters below (lc=3 lp=0
            # pb=2, 4 MiB dict — lzma1_compress's settings). The raw
            # stream carries NO end-of-stream marker and gp-flag bit 1
            # stays clear: readers take sizes from the directory
            # (stdlib zipfile does, pinned in tests); a strict reader
            # keying EOS off gp-bit 1 must use sizes-from-directory
            # here — the APPNOTE leaves that signal optional and we
            # choose the smaller no-EOS form.
            props = bytes([_props_byte(3, 0, 2)]) + struct.pack(
                "<I", 1 << 22
            )
            comp = (
                struct.pack("<BBH", 9, 4, len(props))
                + props
                + lzma1_compress(payload)
            )
        elif method == _ZSTD:
            from yark_spark.operators.zstd import zstd_compress

            comp = zstd_compress(payload, method="compressed")
        else:
            raise ValueError(f"zip: unsupported method {method}")
        offset = len(out)
        if zip64:
            # local header: sizes saturated, real values in the extra
            lextra = struct.pack(
                "<HHQQ", 0x0001, 16, len(payload), len(comp)
            )
            local = struct.pack(
                "<4sHHHHHIIIHH",
                _LOCAL_SIG, 45, 0, method, _DOS_TIME, _DOS_DATE,
                crc, 0xFFFFFFFF, 0xFFFFFFFF, len(nb), len(lextra),
            )
            out += local + nb + lextra + comp
            cextra = struct.pack(
                "<HHQQQ", 0x0001, 24, len(payload), len(comp), offset
            )
            central += struct.pack(
                "<4sHHHHHHIIIHHHHHII",
                _CENTRAL_SIG, 45, 45, 0, method, _DOS_TIME, _DOS_DATE,
                crc, 0xFFFFFFFF, 0xFFFFFFFF, len(nb), len(cextra),
                0, 0, 0, 0, 0xFFFFFFFF,
            ) + nb + cextra
        else:
            local = struct.pack(
                "<4sHHHHHIIIHH",
                _LOCAL_SIG, 20, 0, method, _DOS_TIME, _DOS_DATE,
                crc, len(comp), len(payload), len(nb), 0,
            )
            out += local + nb + comp
            central += struct.pack(
                "<4sHHHHHHIIIHHHHHII",
                _CENTRAL_SIG, 20, 20, 0, method, _DOS_TIME, _DOS_DATE,
                crc, len(comp), len(payload), len(nb), 0, 0, 0, 0, 0, offset,
            ) + nb
    cd_offset = len(out)
    out += central
    if zip64:
        z64_at = len(out)
        out += struct.pack(
            "<4sQHHIIQQQQ",
            _Z64_EOCD_SIG, 44, 45, 45, 0, 0,
            len(members), len(members), len(central), cd_offset,
        )
        out += struct.pack("<4sIQI", _Z64_LOCATOR_SIG, 0, z64_at, 1)
        out += struct.pack(
            "<4sHHHHIIH",
            _EOCD_SIG, 0, 0, 0xFFFF, 0xFFFF,
            0xFFFFFFFF, 0xFFFFFFFF, 0,
        )
    else:
        out += struct.pack(
            "<4sHHHHIIH",
            _EOCD_SIG, 0, 0, len(members), len(members),
            len(central), cd_offset, 0,
        )
    return bytes(out)


def _find_eocd(b: bytes) -> int:
    """Backward scan for the EOCD signature (the comment field means
    the record does not sit at a fixed offset). A candidate only
    counts when its declared comment length reaches EXACTLY the end
    of the file — otherwise the signature is comment/member bytes
    (e.g. a comment that itself contains 'PK\\x05\\x06')."""
    # EOCD is 22 bytes + comment (≤ 65535)
    lo = max(0, len(b) - 22 - 65535)
    pos = b.rfind(_EOCD_SIG, lo)
    while pos >= 0:
        if pos + 22 <= len(b):
            (clen,) = struct.unpack("<H", b[pos + 20 : pos + 22])
            if pos + 22 + clen == len(b):
                return pos
        pos = b.rfind(_EOCD_SIG, lo, pos)
    raise ValueError("zip: end-of-central-directory not found")


def _zip64_extra(extra: bytes, uncomp: int, comp: int, offset: int):
    """Resolve saturated central-directory fields through the 0x0001
    extra field (APPNOTE 4.5.3): values appear in fixed order, each
    present ONLY if its 32-bit field saturated."""
    pos = 0
    while pos + 4 <= len(extra):
        tag, size = struct.unpack_from("<HH", extra, pos)
        body = extra[pos + 4 : pos + 4 + size]
        pos += 4 + size
        if tag != 0x0001:
            continue
        at = 0
        if uncomp == 0xFFFFFFFF:
            if at + 8 > len(body):
                raise ValueError("zip: zip64 extra missing uncompressed size")
            (uncomp,) = struct.unpack_from("<Q", body, at)
            at += 8
        if comp == 0xFFFFFFFF:
            if at + 8 > len(body):
                raise ValueError("zip: zip64 extra missing compressed size")
            (comp,) = struct.unpack_from("<Q", body, at)
            at += 8
        if offset == 0xFFFFFFFF:
            if at + 8 > len(body):
                raise ValueError("zip: zip64 extra missing local offset")
            (offset,) = struct.unpack_from("<Q", body, at)
            at += 8
        return uncomp, comp, offset
    if 0xFFFFFFFF in (uncomp, comp, offset):
        raise ValueError("zip: saturated field without a zip64 extra")
    return uncomp, comp, offset


def _central_entries(b: bytes):
    eocd = _find_eocd(b)
    if eocd + 22 > len(b):
        raise ValueError("zip: truncated EOCD record")
    (_sig, disk, cd_disk, n_disk, n_total, cd_size, cd_offset, _clen) = struct.unpack(
        "<4sHHHHIIH", b[eocd : eocd + 22]
    )
    if disk != 0 or cd_disk != 0 or n_disk != n_total:
        raise NotImplementedError("zip: spanned archives not supported")
    if n_total == 0xFFFF or cd_offset == 0xFFFFFFFF or cd_size == 0xFFFFFFFF:
        # ZIP64 (round 13): the locator sits directly before EOCD
        loc_at = eocd - 20
        if loc_at < 0 or b[loc_at : loc_at + 4] != _Z64_LOCATOR_SIG:
            raise ValueError("zip: saturated EOCD without a ZIP64 locator")
        (_lsig, z_disk, z64_at, n_disks) = struct.unpack(
            "<4sIQI", b[loc_at : loc_at + 20]
        )
        if z_disk != 0 or n_disks != 1:
            raise NotImplementedError("zip: spanned archives not supported")
        if z64_at + 56 > len(b) or b[z64_at : z64_at + 4] != _Z64_EOCD_SIG:
            raise ValueError("zip: ZIP64 EOCD record not at locator offset")
        (
            _zsig, _zsize, _vmade, _vneed, zdisk, zcd_disk,
            zn_disk, zn_total, zcd_size, zcd_offset,
        ) = struct.unpack("<4sQHHIIQQQQ", b[z64_at : z64_at + 56])
        if zdisk != 0 or zcd_disk != 0 or zn_disk != zn_total:
            raise NotImplementedError("zip: spanned archives not supported")
        n_total, cd_size, cd_offset = zn_total, zcd_size, zcd_offset
    pos = cd_offset
    for _ in range(n_total):
        if pos + 46 > len(b):
            raise ValueError("zip: truncated central directory")
        (
            sig, _ver_made, _ver_need, flags, method, _t, _d,
            crc, comp_size, uncomp_size, name_len, extra_len,
            comment_len, _disk_no, _iattr, _eattr, local_offset,
        ) = struct.unpack("<4sHHHHHHIIIHHHHHII", b[pos : pos + 46])
        if sig != _CENTRAL_SIG:
            raise ValueError("zip: bad central-directory signature")
        name = b[pos + 46 : pos + 46 + name_len].decode("utf-8")
        if 0xFFFFFFFF in (comp_size, uncomp_size, local_offset):
            extra = b[pos + 46 + name_len : pos + 46 + name_len + extra_len]
            uncomp_size, comp_size, local_offset = _zip64_extra(
                extra, uncomp_size, comp_size, local_offset
            )
        pos += 46 + name_len + extra_len + comment_len
        yield name, flags, method, crc, comp_size, uncomp_size, local_offset


def zip_member_names(payload: bytes) -> list[str]:
    """List member names from the central directory only — no data
    reads, the random-access property the format exists for."""
    return [e[0] for e in _central_entries(bytes(payload))]


def zip_members(
    payload: bytes, max_output: int | None = None
) -> list[tuple[str, int, bytes]]:
    """Extract every member as (name, method, data), verifying local
    headers against the central directory and each CRC-32."""
    b = bytes(payload)
    out = []
    total = 0
    for name, flags, method, crc, comp_size, uncomp_size, off in _central_entries(b):
        if flags & 0x1:
            raise NotImplementedError("zip: encrypted members not supported")
        if off + 30 > len(b):
            raise ValueError("zip: local header offset out of range")
        (sig, _ver, lflags, lmethod, _t, _d, _lcrc, _lcs, _lus, nl, el) = struct.unpack(
            "<4sHHHHHIIIHH", b[off : off + 30]
        )
        if sig != _LOCAL_SIG:
            raise ValueError("zip: bad local-header signature")
        if lmethod != method:
            raise ValueError("zip: local/central method mismatch")
        data_at = off + 30 + nl + el
        if data_at + comp_size > len(b):
            raise ValueError("zip: truncated member data")
        total += uncomp_size
        if max_output is not None and total > max_output:
            raise ValueError("zip: decoded size exceeds bomb guard")
        comp = b[data_at : data_at + comp_size]
        if method == _STORED:
            if comp_size != uncomp_size:
                raise ValueError("zip: stored member size mismatch")
            data = comp
        elif method == _DEFLATE:
            data = inflate(comp, max_output=uncomp_size)
            if len(data) != uncomp_size:
                raise ValueError("zip: inflated size mismatch")
        elif method == _BZIP2:
            from yark_spark.operators.bzip2 import bz2_decompress

            data = bz2_decompress(comp, max_output=uncomp_size)
            if len(data) != uncomp_size:
                raise ValueError("zip: bzip2 member size mismatch")
        elif method == _LZMA:
            # APPNOTE 5.8.8: [ver major u8][minor u8][props size u16]
            # [props byte + dict size u32] then one raw LZMA1 stream
            from yark_spark.operators.xz import lzma1_decompress

            if len(comp) < 4:
                raise ValueError("zip: truncated LZMA member header")
            psize = struct.unpack_from("<H", comp, 2)[0]
            if psize < 5 or 4 + psize > len(comp):
                raise ValueError("zip: bad LZMA properties size")
            data = lzma1_decompress(
                comp[4 + psize :], comp[4], uncomp_size,
                max_output=uncomp_size,
            )
        elif method == _ZSTD:
            from yark_spark.operators.zstd import zstd_frames

            data = b"".join(zstd_frames(comp, max_output=uncomp_size))
            if len(data) != uncomp_size:
                raise ValueError("zip: zstd member size mismatch")
        else:
            raise NotImplementedError(f"zip: compression method {method}")
        if zlib.crc32(data) != crc:
            raise ValueError(f"zip: CRC mismatch in member {name!r}")
        out.append((name, method, data))
    return out
