"""Seeded benchmark inputs, written as parquet under a work directory.

The engine receives only these files; everything random here comes from
``random.Random(seed)``, so one seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The documents corpus mirrors the shape of the repository's generated
# `documents.parquet`: word salad over this 30-word vocabulary, 10-99 words
# per document, 20 sources. Random documents share at most ~0.3 char-shingle
# Jaccard, so only the injected copies are near-duplicates at 0.8.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_SOURCES = 20
COPY_ID_OFFSET = 1_000_000


@dataclass
class ERInputs:
    base_path: str        # turns committed by the base run
    delta_path: str       # held-out conversations + edited conversations
    upserted_path: str    # the corpus a full rebuild sees after the upsert
    truth_path: str       # conv_id -> entity_id for every conversation
    n_convs: int          # conversations in the upserted corpus
    n_delta_convs: int


@dataclass
class DocsInputs:
    docs_path: str        # doc_id, source, text
    truth_path: str       # doc_id -> origin doc_id (copies share the origin)
    n_docs: int
    n_exact_copies: int
    n_near_copies: int


def er_inputs(world_seed: int, seed: int, n_entities: int, n_held: int, n_edited: int,
              out_dir: str) -> ERInputs:
    """A `generate_world(world_seed, n_entities)` world split into a base
    corpus and a conversation-granularity delta.

    The base is the world minus a pool of 2 * `n_held` conversations chosen
    by `world_seed`, so every seed shares one base and its committed run can
    be reused. `seed` picks the delta: `n_held` of the pooled conversations
    arrive new, and `n_edited` base conversations arrive edited (turn 1
    gains a suffix), as in the incremental tests."""
    from payor_mdm_spark.datagen.transcripts import generate_world, world_to_tables

    turns, truth = world_to_tables(generate_world(world_seed, n_entities))
    convs = sorted(set(truth.column("conv_id").to_pylist()))
    pool = random.Random(world_seed).sample(convs, 2 * n_held)
    pool_set = set(pool)
    rng = random.Random(seed)
    held = rng.sample(pool, n_held)
    edited = rng.sample([c for c in convs if c not in pool_set], n_edited)

    conv_col = turns.column("conv_id")
    in_pool = pc.is_in(conv_col, value_set=pa.array(pool))
    is_held = pc.is_in(conv_col, value_set=pa.array(held))
    is_edited = pc.is_in(conv_col, value_set=pa.array(edited))
    edited_turns = turns.filter(is_edited)
    text = pc.if_else(
        pc.equal(edited_turns.column("turn_idx"), 1),
        pc.binary_join_element_wise(edited_turns.column("text"), " EDITED", ""),
        edited_turns.column("text"),
    )
    edited_turns = edited_turns.set_column(
        edited_turns.schema.get_field_index("text"), "text", text
    )
    base = turns.filter(pc.invert(in_pool))
    delta = pa.concat_tables([turns.filter(is_held), edited_turns])
    upserted = pa.concat_tables(
        [turns.filter(pc.invert(pc.or_(in_pool, is_edited))), delta]
    )
    paths = {}
    for name, table in (("base", base), ("delta", delta), ("upserted", upserted),
                        ("truth", truth)):
        paths[name] = os.path.join(out_dir, f"er_{name}.parquet")
        pq.write_table(table, paths[name])
    return ERInputs(
        base_path=paths["base"], delta_path=paths["delta"],
        upserted_path=paths["upserted"], truth_path=paths["truth"],
        n_convs=len(convs) - len(pool) + len(held), n_delta_convs=len(held) + len(edited),
    )


def docs_inputs(seed: int, n_docs: int, copy_share: float, out_dir: str) -> DocsInputs:
    """`n_docs` word-salad documents plus seed-chosen byte-identical copies
    and seed-chosen near-duplicate copies (the text with " tail" appended).
    Near copies are taken only from documents of 30+ words, whose tail copy
    stays above 0.9 char-shingle Jaccard."""
    rng = random.Random(seed)
    ids, sources, texts = [], [], []
    for i in range(n_docs):
        ids.append(i)
        sources.append(f"src{i % DOC_SOURCES}")
        texts.append(" ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 99))))
    origin = list(ids)
    n_copies = max(1, round(n_docs * copy_share))
    exact = rng.sample(range(n_docs), n_copies)
    exact_set = set(exact)
    long_docs = [i for i in range(n_docs) if texts[i].count(" ") >= 29 and i not in exact_set]
    near = rng.sample(long_docs, n_copies)
    next_id = COPY_ID_OFFSET
    for src_ids, suffix in ((exact, ""), (near, " tail")):
        for i in src_ids:
            ids.append(next_id)
            sources.append(sources[i])
            texts.append(texts[i] + suffix)
            origin.append(i)
            next_id += 1
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "source": sources, "text": texts})
    truth = pa.table({"doc_id": pa.array(ids, pa.int64()), "origin": pa.array(origin, pa.int64())})
    docs_path = os.path.join(out_dir, "documents.parquet")
    truth_path = os.path.join(out_dir, "documents_truth.parquet")
    pq.write_table(docs, docs_path)
    pq.write_table(truth, truth_path)
    return DocsInputs(docs_path=docs_path, truth_path=truth_path, n_docs=len(ids),
                      n_exact_copies=len(exact), n_near_copies=len(near))
