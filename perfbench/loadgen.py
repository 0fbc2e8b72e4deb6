"""Seeded transcript generator for the benchmark.

Same table shape, mutation classes and planting rates as
``lsh_spark.synth.generate_tier`` (20% of base conversations get one
near-duplicate partner cycling through the eight mutation classes, 10%
carry the shared boilerplate turn), but driven by the workload seed
instead of the package's fixed ``synth.SEED``. The program under test
only ever sees the transcripts table; the planted labels stay here for
the output gates.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from lsh_spark import synth


@dataclass
class Corpus:
    transcripts: pa.Table
    # planted pairs (conv_id_a, conv_id_b, mutation), base id first
    pairs: list[tuple[str, str, str]]
    conv_ids: list[str]
    # conv_id -> list of turn texts in canonical (turn_idx) order
    turns: dict[str, list[str]]


def generate(seed: int, n_base: int) -> Corpus:
    rng = np.random.default_rng(seed)
    cols: dict[str, list] = {k: [] for k in
                             ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    turns_by_conv: dict[str, list[str]] = {}
    conv_ids: list[str] = []
    pairs: list[tuple[str, str, str]] = []

    def emit(conv_id, turns, seq, shuffle_rows, boiler_at):
        texts = [" ".join(synth._VOCAB[t]) for t in turns]
        if boiler_at is not None:
            texts.insert(min(boiler_at, len(texts)), synth.BOILERPLATE)
        turns_by_conv[conv_id] = texts
        conv_ids.append(conv_id)
        order = list(range(len(texts)))
        if shuffle_rows:
            rng.shuffle(order)
        for pos in order:
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(pos)
            cols["role"].append(synth.ROLES[pos % 2])
            cols["text"].append(texts[pos])
            cols["tool"].append(synth.TOOLS[pos % 3] if pos % 7 == 3 else None)
            cols["ts"].append(synth.BASE_TS_US + seq * 60_000_000 + pos * 1_000_000)

    n_turns_all = rng.integers(3, 13, size=n_base)
    seq = 0
    for i in range(n_base):
        base_id = f"c{i:07d}"
        turns = synth._conv_tokens(rng, int(n_turns_all[i]))
        mutation = (synth.MUTATIONS[(i // 5) % len(synth.MUTATIONS)]
                    if i % 5 == 0 else None)
        boiler = (i % 10 == 1) or (mutation == "boilerplate")
        emit(base_id, turns, seq, False, 1 if boiler else None)
        seq += 1
        if mutation is not None:
            dup_id = base_id + "d"
            mturns, shuffle_rows = synth._mutate(rng, turns, mutation)
            emit(dup_id, mturns, seq, shuffle_rows, 1 if boiler else None)
            seq += 1
            pairs.append((base_id, dup_id, mutation))

    table = pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
    })
    return Corpus(table, pairs, conv_ids, turns_by_conv)


def steady_deltas(corpus: Corpus, seed: int, n_deltas: int = 10,
                  share: float = 0.01) -> list[list[str]]:
    """Conversations held out of the index, as ``n_deltas`` deltas of
    ``share`` of the corpus each.

    Half of every delta are partner sides of planted pairs whose base
    stays indexed, the same number from each mutation class, so every
    delta carries the same class mix and the ingest recall does not
    swing with which classes a random sample happened to draw. The rest
    are conversations without a partner."""
    rng = np.random.default_rng([seed, 1])
    per = math.ceil(len(corpus.conv_ids) * share)
    k = max(1, per // 2 // len(synth.MUTATIONS))
    partners = {m: rng.permutation([b for _, b, mm in corpus.pairs
                                    if mm == m]).tolist()
                for m in synth.MUTATIONS}
    in_pairs = {x for a, b, _ in corpus.pairs for x in (a, b)}
    loners = rng.permutation(
        [c for c in corpus.conv_ids if c not in in_pairs]).tolist()
    deltas = []
    for i in range(n_deltas):
        d = [partners[m][i * k + j] for m in synth.MUTATIONS
             for j in range(k)]
        take = per - len(d)
        deltas.append(d + loners[:take])
        loners = loners[take:]
    return deltas


def subset(corpus: Corpus, n_groups: int) -> Corpus:
    """The first ``n_groups`` base conversations with their partners, as a
    corpus of its own (planted pairs never straddle it)."""
    keep = {f"c{i:07d}" for i in range(n_groups)}
    keep |= {b for a, b, _ in corpus.pairs if a in keep}
    conv_ids = [c for c in corpus.conv_ids if c in keep]
    mask = pc.is_in(corpus.transcripts.column("conv_id"),
                    value_set=pa.array(conv_ids, pa.string()))
    return Corpus(corpus.transcripts.filter(mask),
                  [p for p in corpus.pairs if p[0] in keep], conv_ids,
                  {c: corpus.turns[c] for c in conv_ids})
