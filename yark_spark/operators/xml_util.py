"""Shared XML character/entity decoding (ADVICE r12): one
``xml_unescape`` serving feeds.py and docx.py instead of two drifting
copies. The reference regex keeps hex and decimal refs DISJOINT —
``&#[xX]hh;`` (either case of x, per XML 1.0 §4.1) vs ``&#dd;``
(decimal digits only) vs named entities — so ``&#X41;`` decodes and
``&#ab;`` (hex letters without the x) is rejected with a typed error
instead of reaching ``int()`` with base 10.
"""

from __future__ import annotations

import re

__all__ = ["XML_ENTITIES", "xml_unescape"]

XML_ENTITIES = {"lt": "<", "gt": ">", "amp": "&", "quot": '"', "apos": "'"}

_ENT_RE = re.compile(r"&(#[xX][0-9a-fA-F]+|#[0-9]+|[a-z]+);")


def xml_unescape(s: str, where: str = "xml") -> str:
    """Decode the five XML named entities plus decimal/hex character
    references; unknown named entities raise a typed ValueError tagged
    with the caller's format name (quarantine-friendly)."""

    def _sub(m: re.Match) -> str:
        ref = m.group(1)
        if ref[:2] in ("#x", "#X"):
            return chr(int(ref[2:], 16))
        if ref.startswith("#"):
            return chr(int(ref[1:]))
        if ref in XML_ENTITIES:
            return XML_ENTITIES[ref]
        raise ValueError(f"{where}: unknown XML entity &{ref};")

    return _ENT_RE.sub(_sub, s)
