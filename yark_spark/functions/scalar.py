"""Scalar refinement functions — the reference's row-level transform block
(`cmds/archive.py:82-120`, `utils.py`) as composable Column expressions
(SURVEY.md §2.5 X1–X16). Used by sources.infodict to shape raw yt-dlp
info-dicts into the videos schema; all JVM-side, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: YouTube's boilerplate description (reference constant `utils.py:8`);
#: scrubbed to "" at `cmds/archive.py:105`.
DEFAULT_BLURB = (
    "Enjoy the videos and music you love, upload original content, and share "
    "it all with friends, family, and the world on YouTube."
)

#: 11-char video-id shape (`utils.py:19-24`).
VIDEO_ID_RE = "^[0-9A-Za-z_-]{11}$"


def valid_video_id(col: Column) -> Column:
    """X3: id-shape validation — invalid rows are *quarantined by filter*
    instead of raising (the distributed analogue of `utils.py:24`)."""
    return col.rlike(VIDEO_ID_RE)


def scrub_default_description(col: Column) -> Column:
    """X7 (`cmds/archive.py:105`)."""
    return F.when(col == F.lit(DEFAULT_BLURB), F.lit("")).otherwise(col)


def sentinel_to_null(col: Column, sentinel: str = "root") -> Column:
    """X9 (`cmds/archive.py:183`): comment parent "root" → NULL."""
    return F.nullif(col, F.lit(sentinel))


def strip_url_query(col: Column) -> Column:
    """X2 (`cmds/archive.py:88`): drop everything after '?'."""
    return F.substring_index(col, "?", 1)


def url_extension(col: Column) -> Column:
    """X2 (`cmds/archive.py:211`): `url.split('.')[-1].split('?')[0]`."""
    return F.substring_index(F.substring_index(col, ".", -1), "?", 1)


def video_id_from_title_url(col: Column) -> Column:
    """X2 (`cmds/archive.py:334`): the 11-char id after 'v=' in a watch URL.

    Extracted explicitly (not substring_index on '='): a titleUrl with
    extra params ('watch?v=ID&t=90') must yield the id, not the last
    param value. No-match yields '' which the downstream 11-char validity
    filter quarantines — same fate as the reference's malformed rows."""
    return F.regexp_extract(col, "v=([0-9A-Za-z_-]{11})", 1)


def parse_upload_date(col: Column) -> Column:
    """X5 (`cmds/archive.py:112`): yt-dlp upload_date "YYYYMMDD" → timestamp;
    tolerant of full ISO strings too (mixed-format coalesce)."""
    return F.coalesce(
        F.to_timestamp(col, "yyyyMMdd"),
        F.to_timestamp(col),
    )


def pseudonymize(col: Column, salt: str = "yark") -> Column:
    """Stable pseudonymous key: first 16 hex chars of salted SHA-256 over
    the stringified value. Deterministic, so referential joins survive
    (every table hashing the same id with the same salt still joins),
    while the raw identifier never leaves the pipeline. 64 bits keeps the
    birthday-collision odds negligible below ~10^8 distinct keys; take
    more hex chars beyond that."""
    return F.substring(F.sha2(F.concat(F.lit(salt + ":"), col.cast("string")), 256), 1, 16)


def normalize_spaces(col: Column) -> Column:
    """X10 (`cmds/archive.py:304`): strip embedded spaces from ids."""
    return F.replace(col, F.lit(" "), F.lit(""))
