"""Output checks, run after the timed region. Each returns the set of input
keys (turns or documents) whose output is missing, duplicated or wrong;
``failed`` in the result line is the size of that set."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

TURN_FIELDS = ("extracted_text", "spans", "column_layout")
TABLE_FIELDS = {
    "blocks": ("block_idx", "page_num", "bbox", "text", "font_size", "font_name",
               "block_type", "span_start", "span_end"),
    "formulas": ("formula_index", "page_num", "bbox", "formula_text", "latex",
                 "confidence"),
    "segments": ("seg_idx", "text", "start", "end", "tag_path", "words",
                 "link_density", "boiler_container", "is_content"),
}
_ORDER = {"blocks": "block_idx", "formulas": "formula_index", "segments": "seg_idx"}
_EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")


def key(r) -> tuple:
    return (r["conv_id"], r["turn_idx"])


def read_rows(path: str, columns=None) -> list:
    return pq.read_table(path, columns=columns).to_pylist()


def key_faults(want_keys, got_rows) -> set:
    """Keys missing from, duplicated in, or unexpected in the output."""
    counts = Counter(key(r) for r in got_rows)
    bad = {k for k, c in counts.items() if c != 1}
    bad |= set(want_keys) ^ set(counts)
    return bad


def _by_turn(rows, fields, order=None) -> dict:
    acc = defaultdict(list)
    for r in rows:
        acc[key(r)].append(tuple(r[f] for f in fields))
    if order is not None:
        i = fields.index(order)
        for v in acc.values():
            v.sort(key=lambda t: t[i])
    return acc


def oracle_faults(inputs: list, got: dict) -> set:
    """Keys whose output rows differ from ``oracle.oracle_turn``. ``got``
    maps "turns" and any of TABLE_FIELDS' tables to output row dicts;
    output turns missing a key are left to ``key_faults``."""
    from metadatadocumentparser_spark import oracle

    golden = oracle.oracle_corpus(inputs)
    bad = set()
    turns = _by_turn(got["turns"], TURN_FIELDS)
    for k, rows in _by_turn(golden["turns"], TURN_FIELDS).items():
        if k in turns and turns[k] != rows:
            bad.add(k)
    for table, fields in TABLE_FIELDS.items():
        if table not in got:
            continue
        want = _by_turn(golden[table], fields, _ORDER[table])
        have = _by_turn(got[table], fields, _ORDER[table])
        bad |= {k for k in set(want) | set(have) if want.get(k) != have.get(k)}
    return bad


def turn_digests(rows: list) -> dict:
    """Per-turn (text, spans, layout) tuples of a turns table; comparing two
    of these is independent of row order and partitioning."""
    return {key(r): tuple(repr(r[f]) for f in TURN_FIELDS) for r in rows}


def corpus_prep_faults(n_input: int, survivors: list, packed: list, stats: dict) -> set:
    """Document ids that break the corpus-prep contract: every survivor is
    packed exactly once and nothing else is; each pack's token total is
    the sum of its members' counts; n_tokens is the whitespace token
    count; no email survives redaction; and the stats row agrees with the
    written tables (a disagreement fails as many ids as it is off by)."""
    bad = set()
    ids = Counter(r["id"] for r in survivors)
    bad |= {i for i, c in ids.items() if c != 1}
    tokens = {}
    for r in survivors:
        tokens[r["id"]] = r["n_tokens"]
        if r["n_tokens"] != len(r["text"].split()) or _EMAIL.search(r["text"]):
            bad.add(r["id"])
    in_packs = Counter(i for p in packed for i in p["ids"])
    bad |= {i for i in set(ids) | set(in_packs) if in_packs.get(i) != 1 or i not in ids}
    for p in packed:
        if (p["n_docs"] != len(p["ids"])
                or p["total_tokens"] != sum(tokens.get(i, 0) for i in p["ids"])):
            bad |= set(p["ids"])
    off = abs(stats["n_final"] - len(survivors)) + abs(stats["n_input"] - n_input)
    bad |= {("stats", i) for i in range(off)}
    return bad
