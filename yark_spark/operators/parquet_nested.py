"""Nested-parquet fixture + flatten glue for E166/E167 (round 15).

The fixture rules put every null/empty grammar position on a doc_id
modulus so the DuckDB oracle recomputes the flattened nested values
in pure SQL (yark_spark/queries/round15.py)."""

from __future__ import annotations


def nested_fixture_cols(ids: list, langs: list, n_chars: list) -> tuple:
    """Deterministic MAP / list<struct> / list<list> values from
    document fields: null map, empty map, null value, null list,
    empty list, null element, null inner list and null scalar each
    appear on a fixed doc_id modulus."""
    attrs, events, mat = [], [], []
    for did, lang, nch in zip(ids, langs, n_chars):
        m5, m4, m6 = did % 5, did % 4, did % 6
        attrs.append(
            None if m5 == 0
            else {} if m5 == 1
            else {"lang": lang} if m5 == 2
            else {"lang": lang, "note": None} if m5 == 3
            else {"lang": lang, "n": str(nch)}
        )
        events.append(
            None if m4 == 0
            else [] if m4 == 1
            else [{"k": lang, "n": nch}] if m4 == 2
            else [{"k": lang, "n": nch}, None, {"k": None, "n": did}]
        )
        mat.append(
            None if m6 == 0
            else [] if m6 == 1
            else [[]] if m6 == 2
            else [[did]] if m6 == 3
            else [[did, nch], None] if m6 == 4
            else [[None, did]]
        )
    return attrs, events, mat


def nested_flatten(attrs, events, mat) -> tuple:
    """Decoded nested values → oracle-comparable flat strings: maps as
    sorted ``k=v`` joins (the from-scratch reader surfaces MAP columns
    as (k, v) tuple lists), events/mat with ``;`` outer joins, ``#``
    for null elements, ``|`` inner joins, '' for null scalars."""
    n_attrs = None if attrs is None else len(attrs)
    attrs_str = (
        None
        if attrs is None
        else ",".join(f"{k}={'' if v is None else v}" for k, v in sorted(attrs))
    )
    events_str = (
        None
        if events is None
        else ";".join(
            "#"
            if e is None
            else (
                ("" if e["k"] is None else e["k"])
                + ":"
                + ("" if e["n"] is None else str(e["n"]))
            )
            for e in events
        )
    )
    mat_str = (
        None
        if mat is None
        else ";".join(
            "#"
            if inner is None
            else "|".join("" if x is None else str(x) for x in inner)
            for inner in mat
        )
    )
    return n_attrs, attrs_str, events_str, mat_str


def nested_decode_frame(read, blob: bytes):
    """Read (doc_id, attrs, events, mat) back through the from-scratch
    reader and flatten into the oracle-comparable pandas frame."""
    import numpy as np
    import pandas as pd

    cols = read(blob, ["doc_id", "attrs", "events", "mat"])
    ids, nas, astrs, estrs, mstrs = [], [], [], [], []
    for did, a, e, m in zip(
        cols["doc_id"], cols["attrs"], cols["events"], cols["mat"]
    ):
        na, astr, estr, mstr = nested_flatten(a, e, m)
        ids.append(int(did))
        nas.append(na)
        astrs.append(astr)
        estrs.append(estr)
        mstrs.append(mstr)
    return pd.DataFrame(
        {
            "doc_id": np.array(ids, dtype="int64"),
            "n_attrs": pd.array(nas, dtype="Int64"),
            "attrs_str": astrs,
            "events_str": estrs,
            "mat_str": mstrs,
        }
    )
