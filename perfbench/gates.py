"""Output gates: the benchmark's own exact reference for what each
operation must return, computed from the planted labels and the raw text
(not from anything the program computed).

Documents are addressed as the program names them: ``conv_id`` at
``granularity="conv"``, ``conv_id#turn_idx`` at ``granularity="turn"``.
Similarity is exact k-token-shingle Jaccard over whitespace tokens, the
quantity the program's verifier estimates with 60-bit shingle hashes.
"""

from __future__ import annotations

from collections import defaultdict

from lsh_spark import synth

# mutation classes whose partner document is byte-identical after
# canonical turn ordering
IDENTICAL = {"exact", "reorder", "boilerplate"}


def group_of(doc_id: str) -> str:
    """Planted group of a document: its base conversation id."""
    return doc_id.split("#", 1)[0].rstrip("d")


class Reference:
    def __init__(self, corpus, granularity: str, shingle_k: int,
                 threshold: float):
        self.corpus = corpus
        self.granularity = granularity
        self.k = shingle_k
        self.threshold = threshold
        self._sh: dict[str, frozenset] = {}
        self.pairs = self._expected_pairs()

    def text(self, doc_id: str) -> str:
        if self.granularity == "conv":
            return "\n".join(self.corpus.turns[doc_id])
        conv, idx = doc_id.split("#", 1)
        return self.corpus.turns[conv][int(idx)]

    def doc_ids(self, conv_ids) -> list[str]:
        if self.granularity == "conv":
            return list(conv_ids)
        return [f"{c}#{i}" for c in conv_ids
                for i in range(len(self.corpus.turns[c]))]

    def shingles(self, doc_id: str) -> frozenset:
        s = self._sh.get(doc_id)
        if s is None:
            tok = self.text(doc_id).split()
            s = frozenset(tuple(tok[i:i + self.k])
                          for i in range(len(tok) - self.k + 1))
            self._sh[doc_id] = s
        return s

    def jaccard(self, a: str, b: str) -> float:
        sa, sb = self.shingles(a), self.shingles(b)
        union = len(sa | sb)
        return len(sa & sb) / union if union else 1.0

    def _expected_pairs(self) -> list[tuple[str, str, bool]]:
        """(doc_a, doc_b, identical) pairs the dedup must link.

        conv: every planted pair. turn: every (base turn, partner turn)
        pair of a planted pair whose Jaccard reaches the threshold,
        except the shared boilerplate turn (checked as one cluster)."""
        if self.granularity == "conv":
            return [(a, b, m in IDENTICAL) for a, b, m in self.corpus.pairs]
        out = []
        for a, b, _ in self.corpus.pairs:
            ta, tb = self.corpus.turns[a], self.corpus.turns[b]
            for i, x in enumerate(ta):
                if x == synth.BOILERPLATE:
                    continue
                for j, y in enumerate(tb):
                    if y == synth.BOILERPLATE:
                        continue
                    da, db = f"{a}#{i}", f"{b}#{j}"
                    if x == y:
                        out.append((da, db, True))
                    elif (self.shingles(da) & self.shingles(db)
                          and self.jaccard(da, db) >= self.threshold):
                        out.append((da, db, False))
        return out

    def check_clusters(self, rows) -> tuple[list[str], float]:
        """Gate a (doc_id, cluster_id) output. Returns (failures, recall).

        Every cluster must lie inside one planted group, except the
        single cluster of the shared boilerplate turn (turn shape).
        Every identical pair must share a cluster; recall is the share
        of all expected pairs that do."""
        cluster = {r[0]: r[1] for r in rows}
        members = defaultdict(list)
        for d, c in cluster.items():
            members[c].append(d)
        fails = []
        boiler = set()
        for c, docs in members.items():
            if len({group_of(d) for d in docs}) == 1:
                continue
            if (self.granularity == "turn"
                    and all(self.text(d) == synth.BOILERPLATE for d in docs)):
                boiler.add(c)
                continue
            fails.append(f"cluster {c} spans planted groups: {sorted(docs)[:4]}")
        if self.granularity == "turn" and len(boiler) != 1:
            fails.append(f"boilerplate turns form {len(boiler)} clusters, not 1")
        found = 0
        for a, b, identical in self.pairs:
            hit = a in cluster and cluster.get(a) == cluster.get(b)
            found += hit
            if identical and not hit:
                fails.append(f"identical pair {a},{b} not clustered")
        return fails, found / max(1, len(self.pairs))

    def check_flags(self, flags, delta_docs: set[str]) -> list[str]:
        """Gate ingest flags (doc_a, doc_b, jaccard): doc_a is a delta
        document and the reported Jaccard is the exact one, ≥ threshold."""
        fails = []
        for a, b, j in flags:
            if a not in delta_docs:
                fails.append(f"flag {a},{b}: {a} is not in the delta")
                continue
            ref = self.jaccard(a, b)
            if ref < self.threshold or abs(ref - j) > 1e-5:
                fails.append(f"flag {a},{b}: jaccard {j} vs exact {ref:.6f}")
        return fails
