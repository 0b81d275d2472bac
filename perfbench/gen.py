"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
identical rows, another seed gives other rows of the same shape and size.
Rows follow the pipeline's source schema (``schemas.SOURCE_SCHEMA``).
Sizes are module constants, set from measured runs so that each workload
lands on the intended side of the driver-path thresholds of its
``PipelineConfig`` (see run.DENSE_CONFIG and test_perfbench.py).

- ``bulk_docs``: the package's own fixture corpus (``generate_corpus``:
  text / markdown / rust, entity density 0.25, ``doc_scale`` 2). About 70
  distinct entities, so linking and communities take the driver paths.
- ``dense_docs``: a synthetic person-name vocabulary. Base names are
  dissimilar, some have a one-edit variant, and each document co-mentions
  every name of one group, so entities and community edges land above the
  driver-path thresholds of the dense_graph workload.
- ``delta_docs``: a full snapshot of a corpus after an update: a few
  documents rewritten, a few deleted, the rest unchanged.
"""

from __future__ import annotations

import hashlib
import random

from graphrag_rs_spark.fixtures import FILLER, generate_corpus

BULK_DOCS = 300
BULK_DOC_SCALE = 2
ENTITY_DENSITY = 0.25

DENSE_NAMES = 1400
DENSE_GROUP_SIZE = 40
DENSE_DOCS_PER_GROUP = 2
VARIANT_SHARE = 0.3

CHANGED_SHARE = 0.02
DELETED_SHARE = 0.0075

_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
# extraction gazetteer words that must not occur inside a generated name
_RESERVED = (
    "Inc", "Corp", "LLC", "Ltd", "Company", "Group", "Solutions",
    "Technologies", "University", "Institute", "United States", "New York",
    "California", "London", "Paris", "Tokyo", "Berlin", "Washington",
    "Boston", "Chicago", "Entity",
)
_VERBS = ("met", "called", "visited", "thanked", "joined", "wrote to")
_LINKS = ("and", "with", "beside", "after")
_TAILS = (
    "at the station", "near the river", "during the review",
    "over the weekend", "as a colleague", "and later married",
)


def bulk_docs(seed: int) -> list[dict]:
    """Fixture-shaped corpus (text/markdown/rust, entity density 0.25)."""
    return generate_corpus(
        BULK_DOCS, seed, include_edge_cases=False,
        entity_density=ENTITY_DENSITY, doc_scale=BULK_DOC_SCALE,
    )


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(syllables))


def person_vocabulary(seed: int) -> list[list[str]]:
    """``DENSE_NAMES`` groups of spellings: [base] or [base, one-edit variant].

    Base names are "First Last" of random three-syllable words, all
    distinct; a variant swaps one vowel of the last word (edit distance 1).
    """
    rng = random.Random(f"names:{seed}")
    seen: set[str] = set()
    out: list[list[str]] = []
    while len(out) < DENSE_NAMES:
        first = _word(rng, 3).capitalize()
        last = _word(rng, 3).capitalize()
        name = f"{first} {last}"
        if name in seen or first in seen or any(w in name for w in _RESERVED):
            continue
        seen.update((name, first))
        spellings = [name]
        if rng.random() < VARIANT_SHARE:
            pos = rng.choice([i for i, c in enumerate(last) if c in _VOWELS])
            vowel = rng.choice([v for v in _VOWELS if v != last[pos]])
            variant = f"{first} {last[:pos]}{vowel}{last[pos + 1:]}"
            if variant not in seen and not any(w in variant for w in _RESERVED):
                seen.add(variant)
                spellings.append(variant)
        out.append(spellings)
    return out


def dense_docs(seed: int) -> list[dict]:
    """Co-mention-dense corpus over the person vocabulary.

    Names are split into groups of ``DENSE_GROUP_SIZE``. Each document
    belongs to one group and mentions every name of it once (one of its
    spellings), in a seeded order, three names per sentence, so each
    512-character chunk co-mentions about a dozen names.
    """
    vocab = person_vocabulary(seed)
    rng = random.Random(f"dense:{seed}")
    rng.shuffle(vocab)
    groups = [vocab[i:i + DENSE_GROUP_SIZE] for i in range(0, len(vocab), DENSE_GROUP_SIZE)]
    rows = []
    for g, members in enumerate(groups):
        for d in range(DENSE_DOCS_PER_GROUP):
            order = members[:]
            rng.shuffle(order)
            names = [rng.choice(spellings) for spellings in order]
            sentences = []
            for i in range(0, len(names), 3):
                a, *rest = names[i:i + 3]
                s = f"{a} {rng.choice(_VERBS)}"
                for other in rest:
                    s += f" {other} {rng.choice(_LINKS)}"
                filler = " ".join(rng.choice(FILLER) for _ in range(rng.randrange(1, 4)))
                sentences.append(f"{s} the {filler} {rng.choice(_TAILS)}.")
            repo = f"people/group{g % 7}"
            path = f"notes/g{g}_d{d}.txt"
            rows.append({
                "repo": repo,
                "path": path,
                "commit": hashlib.sha1(f"{repo}:{path}".encode()).hexdigest(),
                "lang": "text",
                "content": " ".join(sentences),
            })
    return rows


def delta_docs(base: list[dict], fresh: list[dict], seed: int) -> tuple[list[dict], int, int]:
    """Full snapshot after an update of ``base``.

    ``fresh`` is a corpus of the same generator under another seed. Changed
    documents keep their identity (repo, path, commit) and take the content
    of the ``fresh`` row at the same index, so their content hash changes;
    deleted documents are left out. Returns (rows, n_changed, n_deleted).
    """
    rng = random.Random(f"delta:{seed}")
    idx = list(range(len(base)))
    rng.shuffle(idx)
    n_changed = max(1, round(len(base) * CHANGED_SHARE))
    n_deleted = max(1, round(len(base) * DELETED_SHARE))
    changed = set(idx[:n_changed])
    deleted = set(idx[n_changed:n_changed + n_deleted])
    rows = []
    for i, row in enumerate(base):
        if i in deleted:
            continue
        if i in changed:
            row = dict(row, content=fresh[i]["content"])
        rows.append(row)
    return rows, n_changed, n_deleted


def write_source(rows: list[dict], path: str, files: int) -> None:
    """Write rows as ``files`` parquet files under directory ``path``, so the
    scan splits over that many tasks. Written with pyarrow, in the
    pipeline's source schema, so that no Spark job runs before the timed
    ones."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from graphrag_rs_spark.schemas import SOURCE_SCHEMA

    schema = to_arrow_schema(SOURCE_SCHEMA)
    os.makedirs(path)
    per = -(-len(rows) // files)
    for k in range(0, len(rows), per):
        table = pa.Table.from_pylist(rows[k:k + per], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k // per:05d}.parquet"))
