"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, index)``, so the same seed
gives the same inputs for any partitioning. The program's inputs are
written to parquet at set-up and read back by the timed builds, as a
production job reads stored tables; the planted truth is regenerated only
to grade the outputs. Every input is built in the driver and written with
pyarrow, so set-up starts no Spark job and no Python worker: the cold
build is the first to start them.

- ``kg_small`` / ``kg_large``: the package's stock corpus, rendered
  document by document with ``doc_payload`` (the rows
  ``synthesize_documents`` produces), its planted gold triples and the
  stock 400-entity alias table (``entity_surface_pairs``, the rows of
  ``alias_table``).
- ``kg_vocab``: the stock documents schema and 5-predicate grammar over a
  large entity vocabulary (4 alias rows per entity, above the package's
  100k-row dim-scale gates). A fixed share of entity mentions carry a
  perturbed surface that is in no alias row and can only be resolved by
  the MinHash-LSH linker.
- ``corpus_dedup``: ~300-word documents. In every block of 20 documents,
  4 form a planted near-duplicate group (one base text, 3 words replaced
  per member) and 1 is an exact copy of the group's first member.
"""

from __future__ import annotations

import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from redisgraph_bulk_loader_spark.sources import DOCUMENTS_SCHEMA, GOLD_SCHEMA
from redisgraph_bulk_loader_spark.sources.documents import (
    doc_payload,
    entity_surface_pairs,
)

_CONS = "bdfgklmnprstvz"
_VOWS = "aeiou"
_SYL = [c + v for c in _CONS for v in _VOWS]  # 70 syllables
_PLACES = ["USA", "Prague", "Japan", "Greece", "Canada", "China",
           "Amsterdam", "Andorra", "Kazakhstan", "Russia", "Germany",
           "Italy", "Thailand", "Brazil", "Kenya", "Norway"]
_PURPOSES = ["business", "pleasure", "research", "transit"]
_DISTRACTORS = [
    "The weather was unremarkable that day.",
    "Several unrelated reports were filed.",
]

ALIAS_SCHEMA = StructType([StructField("surface", StringType()),
                           StructField("canonical_id", StringType())])
DEDUP_SCHEMA = StructType([StructField("doc_id", StringType()),
                           StructField("text", StringType())])

#: share of entity mentions in kg_vocab rendered with a perturbed surface
PERTURBED_SHARE = 0.05
#: kg_vocab entities 0..N_HUBS-1 take a tenth of all entity picks
N_HUBS = 5


def _rng(*parts: int) -> random.Random:
    h = 0
    for p in parts:
        h = (h * 0x9E3779B97F4A7C15 + p + 1) & 0xFFFFFFFFFFFFFFFF
    return random.Random(h)


# ---------------------------------------------------------------------------
# kg_vocab
# ---------------------------------------------------------------------------

def _vocab_name(seed: int, i: int) -> tuple:
    """(first, last) for entity i. The last name starts with i written in
    three base-70 syllables, so every last name (and every dotted-initial
    form) is unique, then one seeded syllable. A full name has 13
    char-3-grams, so a one-letter typo keeps its Jaccard near 0.93."""
    rnd = _rng(seed, 1, i)
    first = "".join(rnd.choice(_SYL) for _ in range(3))
    code = [_SYL[(i // 70 ** k) % 70] for k in (2, 1, 0)]
    last = "".join(code + [rnd.choice(_SYL)])
    return first.capitalize(), last.capitalize()


def vocab_cid(i: int) -> str:
    return f"ent_{i:06d}"


def vocab_surfaces(seed: int, i: int) -> list:
    first, last = _vocab_name(seed, i)
    name = f"{first} {last}"
    return [name, name.upper(), f"{first[0]}. {last}"]


def vocab_alias_rows(seed: int, n_entities: int) -> list:
    rows = []
    for i in range(n_entities):
        cid = vocab_cid(i)
        rows.append({"surface": cid, "canonical_id": cid})
        rows.extend({"surface": s, "canonical_id": cid}
                    for s in vocab_surfaces(seed, i))
    rows.extend({"surface": p, "canonical_id": f"place:{p}"} for p in _PLACES)
    return rows


def vocab_doc(seed: int, n_entities: int, idx: int):
    """(spans, gold) for one kg_vocab document."""
    rnd = _rng(seed, 2, idx)

    def pick() -> int:
        if rnd.random() < 0.10:
            return rnd.randrange(N_HUBS)
        return rnd.randrange(n_entities)

    def surface(i: int) -> str:
        if rnd.random() < PERTURBED_SHARE:
            first, last = _vocab_name(seed, i)
            return f"{first} {last}{rnd.choice(_VOWS)}"
        return rnd.choice(vocab_surfaces(seed, i))

    spans, gold, offset = [], [], 0
    for _ in range(2 + rnd.randrange(7)):
        roll = rnd.random()
        if roll < 0.12:
            ent = pick()
            ref = f"img://{vocab_cid(ent)}/{rnd.randrange(4)}"
            spans.append(("media", "", ref, offset))
            gold.append((vocab_cid(ent), "has_media", ref))
        elif roll < 0.22:
            spans.append(("text", rnd.choice(_DISTRACTORS), "", offset))
        else:
            s, kind = pick(), rnd.random()
            subj = surface(s)
            if kind < 0.2:
                place = rnd.choice(_PLACES)
                text = f"{subj} visited {place} for {rnd.choice(_PURPOSES)}."
                gold.append((vocab_cid(s), "visited", f"place:{place}"))
            elif kind < 0.3:
                place = rnd.choice(_PLACES)
                text = f"{subj} is located in {place}."
                gold.append((vocab_cid(s), "located_in", f"place:{place}"))
            else:
                o = pick()
                pred = ("knows", "works_at", "mentions")[int((kind - 0.3) / 0.7 * 3)]
                verb = {"knows": "knows", "works_at": "works at",
                        "mentions": "mentions"}[pred]
                text = f"{subj} {verb} {surface(o)}."
                gold.append((vocab_cid(s), pred, vocab_cid(o)))
            spans.append(("text", text, "", offset))
        offset += 1 + rnd.randrange(3)
    return spans, gold


def _doc_id(idx: int) -> str:
    return f"doc-{idx:09d}"


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

_STOP = ["the", "a", "of", "to", "and", "in", "is", "for", "on", "with"]
BLOCK = 20          # documents per block
GROUP = 4           # near-duplicate members at the start of each block
EXACT_COPY = GROUP  # block position of the exact copy of member 0
_WORDS_PER_DOC = 300
_MUTATIONS = 3


def _lexicon() -> tuple:
    """(words, cumulative weights): the stop words take 15% of all draws,
    20k seeded words of 1-3 syllables share the rest."""
    rnd = random.Random(0)
    words = sorted({"".join(rnd.choice(_SYL) for _ in range(1 + rnd.randrange(3)))
                    for _ in range(20_000)} - set(_STOP))
    weights = [0.15 / len(_STOP)] * len(_STOP) + [0.85 / len(words)] * len(words)
    return _STOP + words, list(itertools.accumulate(weights))


_WORDS, _CUM_WEIGHTS = _lexicon()


def _text(rnd: random.Random, k: int = _WORDS_PER_DOC) -> list:
    return rnd.choices(_WORDS, cum_weights=_CUM_WEIGHTS, k=k)


def dedup_text(seed: int, idx: int) -> str:
    block, pos = divmod(idx, BLOCK)
    if pos == EXACT_COPY:
        return dedup_text(seed, block * BLOCK)
    if pos >= GROUP:
        return " ".join(_text(_rng(seed, 3, idx)))
    words = _text(_rng(seed, 4, block))
    rnd = _rng(seed, 5, idx)
    for _ in range(_MUTATIONS):
        words[rnd.randrange(len(words))] = _text(rnd, 1)[0]
    return " ".join(words)


def expected_dedup(n_docs: int) -> dict:
    """{doc_id: expected rep_id} over the documents exact curation keeps.

    Exact copies are dropped by curation; each planted group collapses to
    its first member; every other document is its own representative."""
    reps = {}
    for idx in range(n_docs):
        block, pos = divmod(idx, BLOCK)
        if pos == EXACT_COPY:
            continue
        rep = block * BLOCK if pos < GROUP else idx
        reps[_doc_id(idx)] = _doc_id(rep)
    return reps


# ---------------------------------------------------------------------------
# per-workload input sets
# ---------------------------------------------------------------------------

def _payload(workload: str, size: dict, seed: int, idx: int):
    """(spans, gold) of kg document idx."""
    if workload == "kg_vocab":
        return vocab_doc(seed, size["entities"], idx)
    return doc_payload(seed, idx)


def _doc_rows(workload: str, size: dict, seed: int, lo: int, hi: int) -> list:
    if workload == "corpus_dedup":
        return [{"doc_id": _doc_id(i), "text": dedup_text(seed, i)}
                for i in range(lo, hi)]
    return [{"doc_id": _doc_id(i), "spans": [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for (k, t, m, o) in _payload(workload, size, seed, i)[0]]}
        for i in range(lo, hi)]


def _gold_rows(workload: str, size: dict, seed: int, lo: int, hi: int) -> list:
    return [{"doc_id": _doc_id(i), "subj": s, "pred": p, "obj": o}
            for i in range(lo, hi)
            for (s, p, o) in _payload(workload, size, seed, i)[1]]


def _write_parquet(path: str, schema, n: int, files: int, rows_of) -> None:
    """Write rows ``rows_of(lo, hi)`` for ``lo, hi`` splitting ``range(n)``
    into ``files`` parquet files under ``path``, with Spark ``schema``."""
    os.makedirs(path)
    arrow = to_arrow_schema(schema)
    for i in range(files):
        rows = rows_of(n * i // files, n * (i + 1) // files)
        pq.write_table(pa.Table.from_pylist(rows, schema=arrow),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def write_inputs(workload: str, size: dict, seed: int, out: str,
                 files: int) -> None:
    """Generate the inputs the program reads for ``workload`` from
    ``seed`` into parquet under ``out``: ``docs``, and on kg workloads
    ``aliases``."""
    docs_schema = DEDUP_SCHEMA if workload == "corpus_dedup" else DOCUMENTS_SCHEMA
    _write_parquet(f"{out}/docs", docs_schema, size["docs"], files,
                   lambda lo, hi: _doc_rows(workload, size, seed, lo, hi))
    if workload == "corpus_dedup":
        return
    if workload == "kg_vocab":
        aliases = vocab_alias_rows(seed, size["entities"])
    else:
        aliases = [{"surface": s, "canonical_id": c}
                   for s, c in entity_surface_pairs()]
    _write_parquet(f"{out}/aliases", ALIAS_SCHEMA, len(aliases), 1,
                   lambda lo, hi: aliases[lo:hi])


def gold_triples(spark: SparkSession, workload: str, size: dict, seed: int,
                 files: int, path: str) -> DataFrame:
    """The planted triples of a kg workload, written under ``path``, to
    grade its output."""
    _write_parquet(path, GOLD_SCHEMA, size["docs"], files,
                   lambda lo, hi: _gold_rows(workload, size, seed, lo, hi))
    return spark.read.parquet(path)
