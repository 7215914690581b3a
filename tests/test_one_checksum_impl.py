"""One implementation per checksum and codec table: CRC-32 and Adler-32
come from stdlib ``zlib``, CRC-32C from ``operators/tfrecord``, and the
brotli static dictionary from the C decoder pyarrow ships. A second
copy would show up as its polynomial or modulus under ``yark_spark/``."""

import ast
import importlib
import os
import re

import pytest

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "yark_spark")

#: constant -> the only files allowed to spell it
PINNED = {
    0xEDB88320: (),  # reflected CRC-32 polynomial: zlib.crc32
    65521: (),  # Adler-32 modulus: zlib.adler32
    0x82F63B78: ("operators/tfrecord.py",),  # reflected CRC-32C polynomial
}


def _sources():
    for root, dirs, files in os.walk(PACKAGE):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, PACKAGE).replace(os.sep, "/"), f.read()


def test_checksum_constants_live_in_one_place():
    spellings = {
        value: re.compile(rf"\b(?:{value}|{value:#x})\b", re.IGNORECASE) for value in PINNED
    }
    hits = []
    for rel, text in _sources():
        literals = {
            node.value
            for node in ast.walk(ast.parse(text))
            if isinstance(node, ast.Constant) and type(node.value) is int
        }
        for value, allowed in PINNED.items():
            if rel in allowed:
                continue
            if value in literals or spellings[value].search(text):
                hits.append(f"{rel}: {value:#x}")
    assert not hits, hits


def test_extracted_brotli_dictionary_is_gone():
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("yark_spark.operators.brotli_dict")
