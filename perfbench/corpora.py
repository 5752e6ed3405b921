"""Seeded benchmark inputs, cached on disk under (workload, seed, size).

Transcript corpora are built from the package's public generator
(``synth.make_turn`` / ``synth.shape_for`` / ``synth.conv_sizes``); the seed
offsets the conversation indices, so two seeds share no conversation. The
``corpus_prep`` documents follow the shape of the repository's ``documents``
test table (10-100 words, five languages, five sources) over its 30 words
and ten numbered variants of each, and are replicated with per-replica variation chosen by the seed: near
duplicates, shared boilerplate paragraphs and planted PII, so every
corpus-prep stage removes something.

A cache entry is valid only when its ``_SUCCESS`` marker exists and the row
count recorded in it equals the row count in the parquet footers.
Generation time is reported on its own and never enters a job time.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8  # input files per corpus: > local[4] cores, so no auto-repartition
HOT_FACTOR = 100  # synth's hot conversation: 10 * HOT_FACTOR turns
CONV_STRIDE = 100_000  # seed -> conversation-index offset
SLICE_ROWS = 240  # warm-up slice size

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
    ]
)

# the testdata documents' words and language mix; the numbered variants
# widen the vocabulary so that 3-word shingles of unrelated documents
# rarely collide (decontamination and MinHash then find planted overlap,
# not chance overlap)
_BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_DOC_WORDS = _BASE_WORDS + [f"{w}{k}" for w in _BASE_WORDS for k in range(10)]
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_WEIGHTS = (41, 15, 15, 15, 14)


@dataclass
class Corpus:
    path: str  # input parquet directory
    slice_path: str  # small warm-up slice of the input
    rows: int
    input_bytes: int
    gen_s: float
    extra: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, n)).metadata.num_rows
        for n in sorted(os.listdir(path))
        if n.endswith(".parquet")
    )


def _write_files(path: str, files: list, schema: pa.Schema) -> None:
    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate(files):
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _cached(entry: str, builder) -> tuple:
    """Return (meta, gen_s): a valid cache entry is reused, anything else is
    rebuilt from scratch by ``builder(entry) -> meta``."""
    marker = os.path.join(entry, "_SUCCESS")
    t0 = time.perf_counter()
    if os.path.exists(marker):
        with open(marker) as f:
            meta = json.load(f)
        if all(
            parquet_rows(os.path.join(entry, name)) == n
            for name, n in meta["rows"].items()
        ):
            return meta, time.perf_counter() - t0
    shutil.rmtree(entry, ignore_errors=True)
    meta = builder(entry)
    with open(marker, "w") as f:
        json.dump(meta, f)
    return meta, time.perf_counter() - t0


# ------------------------------------------------------------ transcripts
def transcript_convs(seed: int, n_convs: int) -> list:
    """PDF-layout conversations as lists of turn dicts. Position 0 is
    synth's hot conversation. Turn indices skip synth's ``html`` turns, so
    every conversation keeps synth's turn count."""
    from metadatadocumentparser_spark import synth

    offset = seed * CONV_STRIDE
    convs = []
    for pos, size in enumerate(synth.conv_sizes(n_convs, HOT_FACTOR)):
        ci = offset + pos
        turns, ti = [], 0
        while len(turns) < size:
            if synth.shape_for(ci, ti) != "html":
                turns.append(synth.make_turn(ci, ti))
            ti += 1
        convs.append(turns)
    return convs


def transcripts(cache: str, seed: int, n_convs: int) -> Corpus:
    """The bulk_pdf corpus, clustered by conversation: conversation p goes
    to file p % N_FILES (a conv_id-bucketed layout), so the hot
    conversation makes file 0 the largest input split."""
    entry = os.path.join(cache, f"bulk_pdf-seed{seed}-n{n_convs}")

    def build(entry):
        convs = transcript_convs(seed, n_convs)
        files = [[] for _ in range(N_FILES)]
        for pos, turns in enumerate(convs):
            files[pos % N_FILES].extend(turns)
        _write_files(os.path.join(entry, "input"), files, TRANSCRIPT_SCHEMA)
        warm = [t for turns in convs[1:] for t in turns][:SLICE_ROWS]
        _write_files(os.path.join(entry, "slice"), [warm], TRANSCRIPT_SCHEMA)
        return {"rows": {"input": sum(map(len, convs)), "slice": len(warm)}}

    meta, gen_s = _cached(entry, build)
    path = os.path.join(entry, "input")
    return Corpus(
        path, os.path.join(entry, "slice"), meta["rows"]["input"], dir_bytes(path), gen_s
    )


def html_sample(seed: int, n: int) -> list:
    """``n`` HTML turns from conversations past the ones ``transcripts``
    uses for this seed (the bulk corpus holds no HTML turns)."""
    from metadatadocumentparser_spark import synth

    rows, ci = [], seed * CONV_STRIDE + CONV_STRIDE // 2
    while len(rows) < n:
        for ti in range(synth.conv_sizes(2)[1]):
            if synth.shape_for(ci, ti) == "html" and len(rows) < n:
                rows.append(synth.make_turn(ci, ti))
        ci += 1
    return rows


# ------------------------------------------------------------ documents
def _doc_words(rng: random.Random) -> list:
    return [rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 100))]


def documents(cache: str, seed: int, n_base: int, replicas: int) -> Corpus:
    """``n_base`` base documents, each written ``replicas`` times. Replica 0
    is the base text; later replicas are exact copies, near duplicates (a
    few words changed) or rewrites, in seeded proportions. A fifth of the
    documents carry a paragraph from a small shared boilerplate pool and one
    in twenty carries an email or phone number. The eval table holds 1% of
    the base documents verbatim (the contamination to find) and as many
    documents again over a disjoint vocabulary."""
    entry = os.path.join(cache, f"corpus_prep-seed{seed}-n{n_base}x{replicas}")

    def build(entry):
        rng = random.Random(f"perfbench-docs:{seed}")
        boiler = [" ".join(_doc_words(rng)[:12]) for _ in range(8)]
        base = [_doc_words(rng) for _ in range(n_base)]
        docs = []
        for r in range(replicas):
            for d, words in enumerate(base):
                words = list(words)
                if r > 0:
                    u = rng.random()
                    if u < 0.5:  # near duplicate
                        for _ in range(rng.randint(1, 3)):
                            words[rng.randrange(len(words))] = rng.choice(_DOC_WORDS)
                    elif u >= 0.75:  # rewrite (distinct document)
                        words = _doc_words(rng)
                paras = [" ".join(words)]
                if rng.random() < 0.2:
                    paras.insert(rng.randint(0, 1), rng.choice(boiler))
                if rng.random() < 0.05:
                    pii = rng.choice(
                        (f"mail u{d}.{r}@example.com", f"call +1 555 {d % 1000:03d} 0{r}42")
                    )
                    paras[-1] += " " + pii
                doc_id = r * n_base + d
                docs.append({
                    "doc_id": doc_id,
                    "text": "\n".join(paras),
                    "lang": rng.choices(_LANGS, weights=_LANG_WEIGHTS)[0],
                    "source": f"src{doc_id % 5}",
                })
        n_eval = max(1, n_base // 100)
        evals = [dict(d, doc_id=-1 - i) for i, d in enumerate(rng.sample(docs[:n_base], n_eval))]
        for i in range(n_eval):
            text = " ".join(f"eval{rng.randrange(1000)}" for _ in range(40))
            evals.append({"doc_id": -1 - n_eval - i, "text": text, "lang": "en", "source": "eval"})
        step = -(-len(docs) // N_FILES)
        files = [docs[i : i + step] for i in range(0, len(docs), step)]
        _write_files(os.path.join(entry, "input"), files, DOC_SCHEMA)
        _write_files(os.path.join(entry, "eval"), [evals], DOC_SCHEMA)
        warm = docs[:SLICE_ROWS]
        _write_files(os.path.join(entry, "slice"), [warm], DOC_SCHEMA)
        return {"rows": {"input": len(docs), "eval": len(evals), "slice": len(warm)}}

    meta, gen_s = _cached(entry, build)
    path = os.path.join(entry, "input")
    return Corpus(
        path,
        os.path.join(entry, "slice"),
        meta["rows"]["input"],
        dir_bytes(path),
        gen_s,
        extra={"eval": os.path.join(entry, "eval")},
    )
