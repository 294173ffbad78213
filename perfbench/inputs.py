"""Inputs for the benchmark workloads.

Every input is a pure function of the run's seed (the query_mix tables
are fixed): the same seed gives byte-identical files.  The program under
test only ever sees the generated files and DataFrames.
"""

from __future__ import annotations

import datetime as _dt
import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = (["en"] * 40 + ["de"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["zh"] * 15)
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# sf0.1 sizes of the three tables the 13 entry queries read.
SF_DOCS = 5_000
SF_VECS = 2_000
SF_EVENTS = 100_000
SF_USERS = 1_500
SF_DUP_TEXTS = 8
SF_SEED = 42


def write_sf_tables(out_dir: str) -> None:
    """documents / embeddings / events at sf0.1 shape, one parquet file
    each (the layout ``entryqueries._register_views`` reads).  The tables
    are fixed, like the repository's sf test tables, so that their DuckDB
    oracle can be stored (``perfbench/oracle.json``).  The words come from
    the sf1.0 generator's vocabulary, the sf test tables' word salad."""
    from scripts.gen_sf1 import VOCAB

    rng = np.random.default_rng(SF_SEED)
    os.makedirs(out_dir, exist_ok=True)

    n_words = rng.integers(10, 101, SF_DOCS)
    word_ix = rng.integers(0, len(VOCAB), int(n_words.sum()))
    texts, pos = [], 0
    for n in n_words:
        texts.append(" ".join(VOCAB[i] for i in word_ix[pos:pos + n]))
        pos += n
    # a few exact duplicate texts, as in the sf0.1 test documents
    for dst, src in rng.integers(0, SF_DOCS, (SF_DUP_TEXTS, 2)):
        texts[dst] = texts[src]
    doc_ids = np.arange(SF_DOCS, dtype=np.int64)
    pq.write_table(pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), SF_DOCS)],
        "source": [f"src{i % 20}" for i in doc_ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))

    raw = rng.standard_normal((SF_VECS, 64)).astype(np.float32)
    unit = raw / np.linalg.norm(raw, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": np.arange(SF_VECS, dtype=np.int64),
        "embedding": pa.array(list(unit), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, SF_VECS).astype(np.int32),
    }), os.path.join(out_dir, "embeddings.parquet"))

    start = _dt.datetime(2024, 1, 1)
    micros = np.sort(rng.integers(0, 30 * 86_400 * 10**6, SF_EVENTS))
    pq.write_table(pa.table({
        "event_id": np.arange(SF_EVENTS, dtype=np.int64),
        "ts": pa.array(np.datetime64(start, "us") + micros.astype("timedelta64[us]")),
        "user_id": rng.integers(0, SF_USERS, SF_EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, SF_EVENTS)],
        "value": np.round(rng.uniform(0, 560.21, SF_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, SF_EVENTS)],
    }), os.path.join(out_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# Open name vocabulary (the kg_batch corpus's second part)
# ---------------------------------------------------------------------------
# Alias families over unique invented words.  Every word has the same
# length, so no family word is a prefix of another and the program's
# name-match predicate can only join names of one family.  Common tokens
# (sectors, corporate suffixes, first names, initials) are shared across
# families: they fill the LSH buckets with candidate pairs that fail
# verification.  One boilerplate family of word-order permutations shares
# its whole token set, so its bucket exceeds the program's star cap in
# every permutation.
SECTORS = ["Systems", "Dynamics", "Labs", "Capital", "Logistics", "Energy",
           "Robotics", "Foods", "Media", "Pharma", "Textiles", "Mining",
           "Telecom", "Analytics", "Aerospace", "Marine", "Ventures",
           "Materials", "Biotech", "Networks", "Studios", "Motors",
           "Security", "Partners", "Chemicals", "Insurance", "Software",
           "Hotels", "Airlines", "Freight", "Apparel", "Optics", "Metals",
           "Paper", "Glass", "Water", "Solar", "Wind", "Farms", "Dairy",
           "Brewing", "Tobacco", "Toys", "Games", "Publishing", "Radio",
           "Records", "Clinics"]
SUFFIXES = ["Inc", "Corp", "Corporation", "Ltd", "GmbH", "Holdings", "Group",
            "LLC", "PLC", "AG", "SA", "SpA", "BV", "NV", "KG", "Oy", "AB",
            "Pty", "Company", "International", "Technologies", "Solutions",
            "Industries", "Enterprises"]
FIRST_NAMES = ["Alice", "Bruno", "Carla", "Derek", "Elena", "Felix", "Greta",
               "Hugo", "Irene", "Jonas", "Karin", "Lukas", "Mara", "Nils",
               "Olga", "Pavel", "Quinn", "Rosa", "Sven", "Tessa", "Ursula",
               "Viktor", "Wanda", "Xaver", "Yara", "Zeno", "Amira", "Boris",
               "Celine", "Dario", "Edith", "Fabio", "Gisela", "Henrik",
               "Ines", "Jakob", "Klara", "Leon", "Mila", "Noah", "Oskar",
               "Petra", "Rafael", "Selma", "Tobias", "Ulla", "Vera", "Walter",
               "Yusuf", "Zora", "Anton", "Bianca", "Conrad", "Dora", "Emil",
               "Frida", "Gustav", "Hanna", "Igor", "Julia"]
BOILERPLATE = ["Federal", "Mutual", "Savings", "Trust", "Bank", "Alpine",
               "Region"]
_LETTERS = "BCDFGHJKLMNPRSTVZ"
_VOWELS = "AEIOU"


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct 8-letter pronounceable words (CVCVCVCV)."""
    out: set[str] = set()
    while len(out) < n:
        c = rng.integers(0, len(_LETTERS), (n, 4))
        v = rng.integers(0, len(_VOWELS), (n, 4))
        for row_c, row_v in zip(c, v):
            out.add("".join(_LETTERS[a] + _VOWELS[b] for a, b in zip(row_c, row_v)))
    return sorted(out)[:n]


def openvocab_families(seed: int, n_families: int,
                       boilerplate: bool = True) -> list[tuple[str, list[str]]]:
    """[(entity_type, [surface names])] — one entry per planted family,
    plus the boilerplate family if asked.  Names differ beyond case,
    because the program upper-cases them."""
    rng = np.random.default_rng([seed, 0x0BE4])
    words = [w.capitalize() for w in rng.permutation(_words(rng, n_families))]
    fams: list[tuple[str, list[str]]] = []
    for i, w in enumerate(words):
        if i % 2 == 0:
            sector = SECTORS[rng.integers(len(SECTORS))]
            suffix = SUFFIXES[rng.integers(len(SUFFIXES))]
            fams.append(("ORGANIZATION", [
                f"{w} {sector}", f"{w} {sector} {suffix}", f"{w} {suffix}.", w,
            ]))
        else:
            first = FIRST_NAMES[rng.integers(len(FIRST_NAMES))]
            fams.append(("PERSON", [
                f"{first} {w}", f"{first[0]}. {w}", f"{w}, {first}", f"{w}.",
            ]))
    if boilerplate:
        fams.append(("ORGANIZATION",
                     [" ".join(p) for p in itertools.permutations(BOILERPLATE)]))
    return fams


OV_RELATIONS_PER_DOC = 4
# first line of every open-vocabulary document's text; generator documents
# never start with it
OV_HEADER = "OPEN-VOCABULARY RELATIONS\n"
SPANS_TYPE = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()), ("offset", pa.int32())]))


def openvocab_documents(seed: int, families: list[tuple[str, list[str]]],
                        n_docs: int) -> pa.Table:
    """(doc_id, spans) documents whose text is ``OV_HEADER`` and then
    relations between surface names, one ``TYPE|NAME|TYPE|NAME|PREDICATE``
    line each.  The
    names are drawn round-robin from a seeded shuffle of every family
    member, so each planted name is mentioned."""
    rng = np.random.default_rng([seed, 0xD0C5])
    pool = [(t, n) for t, names in families for n in names]
    order = rng.permutation(len(pool))
    preds = ["partnered with", "supplied", "hired", "audited", "advised"]
    ids, spans, k = [], [], 0
    for d in range(n_docs):
        lines = []
        for _ in range(OV_RELATIONS_PER_DOC):
            (ta, a), (tb, b) = pool[order[k % len(pool)]], pool[order[(k + 1) % len(pool)]]
            k += 2
            lines.append(f"{ta}|{a}|{tb}|{b}|{preds[(k // 2) % len(preds)]}\n")
        ids.append(f"ov-{d:08d}")
        spans.append([{"kind": "text", "text": OV_HEADER + "".join(lines), "media_ref": None,
                       "offset": 0}])
    return pa.table({"doc_id": ids, "spans": pa.array(spans, type=SPANS_TYPE)})


def openvocab_extract(text: str) -> str:
    """Emits the reference's delimited record format (entity and
    relationship records) for every relation line."""
    records = []
    for line in text.splitlines():
        parts = line.split("|")
        if len(parts) != 5:
            continue
        ta, a, tb, b, pred = parts
        records.append(f'("entity"<|>{a}<|>{ta}<|>{ta.lower()} {a})')
        records.append(f'("entity"<|>{b}<|>{tb}<|>{tb.lower()} {b})')
        records.append(f'("relationship"<|>{a}<|>{b}<|>{pred}<|>1)')
    return "##".join(records) + ("##<|COMPLETE|>" if records else "")


def kg_extract(text: str) -> str:
    """The extractor kg_batch passes to ``KGPipeline(extractor=...)``:
    the program's default ``rule_extract`` for generator documents, and
    ``openvocab_extract`` for open-vocabulary documents."""
    if text.startswith(OV_HEADER):
        return openvocab_extract(text)
    from mmore_spark.operators.extract import rule_extract

    return rule_extract(text)
