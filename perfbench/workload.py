"""Seeded workload generator.

Everything the engine sees is derived from ``--seed``: the corpus is
``sparkrec.datagen.transcripts_df(n_convs, base_seed=seed)``, the merge
deltas are the disjoint conv-index ranges that follow it, and the query
sets are drawn here from the generator's own vocabulary and from the
generated conversations themselves (driver-side ``_conv_rows``, the
per-conversation generator ``transcripts_df`` runs in its tasks). No
Spark is needed, so the self-tests check determinism directly.
"""

from __future__ import annotations

import string
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from sparkrec.datagen import _ZIPF_P, VOCAB, _conv_rows
from sparkrec.functions.textprep import py_tokenize

HEAD = 50  # Zipf-head ranks (the hottest terms)
MID_LO = 500  # per-conversation topical terms are drawn from ranks >= 500
LONG_TERMS = 60

# sizes shared by every workload
N_CONVS = 500  # base corpus: ~10k turns, ~9.5 MB of text
POINT_POOL = 240  # distinct point queries available to the measured rounds
BATCH_SIZE = 60
BATCH_REPEAT = 0.25  # target share of repeated term multisets
MERGES = 1  # traced run: deltas merged
DELTA_CONVS = 20
BURST = 5  # traced run: reads compared before and after compaction
ORACLE_SAMPLE = 24


@dataclass(frozen=True)
class Shape:
    """What differs between the workloads."""

    pinned: bool  # Index.warm(postings=pinned)
    warmup: int  # untimed point queries before the measured rounds
    per_round: int  # point queries per measured round
    min_rounds: int  # rounds always run, --seconds or not

    @property
    def point_min(self) -> int:
        """Point queries always run (the traced run's counter prefix)."""
        return self.per_round * self.min_rounds


SHAPES = {
    # interactive serving from a fully warmed index: postings pinned, so
    # the point path and the batch kernels read Spark's in-memory cache
    "point": Shape(pinned=True, warmup=24, per_round=8, min_rounds=3),
    # analytic batches against parquet: lexicon warmed, postings NOT
    # pinned, so every read goes through the partition-pruned scan
    "batch": Shape(pinned=False, warmup=12, per_round=4, min_rounds=3),
}


def signature(text: str) -> tuple:
    """The engine's notion of query identity: the post-tokenize term
    multiset (what ``bm25_query_topk`` deduplicates on)."""
    return tuple(sorted(Counter(py_tokenize(text)).items()))


def conv_text(conv_index: int, seed: int) -> str:
    return " ".join(_conv_rows(conv_index, seed)["text"])


def uniq_term(conv_index: int) -> str:
    return f"uniq{conv_index:08d}"


def carries_uniq(conv_index: int, seed: int) -> bool:
    """Only about two thirds of conversations contain their unique term
    (each turn adds it with p = 0.05), so probes are chosen from text."""
    return uniq_term(conv_index) in set(py_tokenize(conv_text(conv_index, seed)))


@dataclass
class Workload:
    name: str
    seed: int
    shape: Shape
    point: list[tuple[str, str]] = field(default_factory=list)
    point_kind: dict[str, str] = field(default_factory=dict)
    warmup: list[tuple[str, str]] = field(default_factory=list)
    batch: list[tuple[str, str]] = field(default_factory=list)
    deltas: list[tuple[int, int]] = field(default_factory=list)  # (start, n)
    probes: list[str] = field(default_factory=list)  # one per delta
    burst: list[tuple[str, str]] = field(default_factory=list)
    oracle: list[tuple[str, str]] = field(default_factory=list)

    def mix(self) -> dict[str, float]:
        """Share of each query kind in the point pool."""
        counts = Counter(self.point_kind.values())
        return {k: counts[k] / len(self.point) for k in sorted(counts)}

    def batch_repeat_share(self) -> float:
        """Measured share of batch entries whose term multiset occurred
        earlier in the batch."""
        sigs = [signature(t) for _, t in self.batch]
        return 1.0 - len(set(sigs)) / len(sigs)


class _Gen:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 0x5EED])
        self.seed = seed
        self.seen: set[tuple] = set()

    def _terms(self, lo: int, hi: int, n: int, zipf: bool) -> list[str]:
        if zipf:
            p = _ZIPF_P[lo:hi] / _ZIPF_P[lo:hi].sum()
            idx = self.rng.choice(hi - lo, size=n, p=p)
        else:
            idx = self.rng.choice(hi - lo, size=n, replace=False)
        return [str(VOCAB[lo + int(i)]) for i in idx]

    def _absent(self) -> str:
        letters = self.rng.choice(list(string.ascii_lowercase), size=7)
        return "absent" + "".join(letters)

    def _styled(self, terms: list[str]) -> str:
        """Vary case and punctuation so the query tokenizer has work."""
        terms = list(terms)
        if self.rng.random() < 0.2:
            i = int(self.rng.integers(len(terms)))
            terms[i] = terms[i].capitalize()
        if self.rng.random() < 0.15:
            i = int(self.rng.integers(len(terms)))
            terms[i] = terms[i] + ","
        return " ".join(terms)

    def unique_convs(self, lo: int, hi: int, n: int) -> list[int]:
        """Up to n conversations in [lo, hi) that carry their uniq term."""
        out = []
        for c in self.rng.permutation(np.arange(lo, hi)):
            if carries_uniq(int(c), self.seed):
                out.append(int(c))
                if len(out) == n:
                    break
        return out

    def query(self, kind: str, uniq_pool: list[int]) -> str:
        if kind == "head":
            return self._styled(self._terms(0, HEAD, int(self.rng.integers(2, 5)),
                                            zipf=False))
        if kind == "mid":
            return self._styled(self._terms(MID_LO, len(VOCAB),
                                            int(self.rng.integers(1, 4)),
                                            zipf=False))
        if kind == "unique":
            c = uniq_pool.pop()
            extra = self._terms(0, HEAD, int(self.rng.integers(0, 2)), zipf=False)
            return self._styled([uniq_term(c)] + extra)
        if kind == "absent":
            return " ".join(self._absent() for _ in range(int(self.rng.integers(1, 3))))
        if kind == "long":
            return " ".join(self._terms(0, len(VOCAB), LONG_TERMS, zipf=True))
        raise ValueError(kind)

    def distinct(self, kind: str, uniq_pool: list[int]) -> str:
        for _ in range(1000):
            text = self.query(kind, uniq_pool)
            sig = signature(text)
            if sig not in self.seen:
                self.seen.add(sig)
                return text
        raise RuntimeError(f"cannot draw a new distinct {kind} query")


# point-pool composition; the long query is added once on top
POINT_MIX = (("head", 0.35), ("mid", 0.35), ("unique", 0.2), ("absent", 0.1))


def kind_schedule(n: int) -> list[str]:
    """Query kinds in a fixed order (smooth weighted round-robin over
    POINT_MIX): every prefix, and so every loop length, holds each kind
    close to its share, the same for every seed. The kinds' costs differ
    by up to 100x, so the mix must not vary with the seed."""
    done = Counter()
    out = []
    for _ in range(n):
        kind = min(POINT_MIX, key=lambda ks: ((done[ks[0]] + 1) / ks[1], ks[0]))[0]
        done[kind] += 1
        out.append(kind)
    return out


def make(name: str, seed: int) -> Workload:
    g = _Gen(seed)
    wl = Workload(name=name, seed=seed, shape=SHAPES[name])

    # the long query goes first so even the shortest loop measures it
    kinds = ["long"] + kind_schedule(POINT_POOL - 1)
    uniq_pool = g.unique_convs(0, N_CONVS, kinds.count("unique"))
    for i, kind in enumerate(kinds):
        if kind == "unique" and not uniq_pool:
            kind = "mid"
        qid = f"p{i:04d}"
        wl.point.append((qid, g.distinct(kind, uniq_pool)))
        wl.point_kind[qid] = kind

    # warm-up queries: drawn after the pool, so never one of its entries
    wl.warmup = [(f"w{i:03d}", g.distinct(("head", "mid")[i % 2], []))
                 for i in range(wl.shape.warmup)]

    # batch: a prefix of the point pool (so point, group and scan answers
    # can be compared on the same ids) plus BATCH_REPEAT of entries that
    # re-phrase an earlier entry's term multiset (reordered terms, other
    # case)
    n_rep = int(round(BATCH_REPEAT * BATCH_SIZE))
    texts = [t for _, t in wl.point[: BATCH_SIZE - n_rep]]
    for _ in range(n_rep):
        src = texts[int(g.rng.integers(len(texts)))]
        toks = src.split(" ")
        toks = [toks[int(i)] for i in g.rng.permutation(len(toks))]
        texts.insert(int(g.rng.integers(1, len(texts) + 1)),
                     " ".join(t.upper() if j == 0 else t
                              for j, t in enumerate(toks)))
    wl.batch = [(f"b{i:05d}", t) for i, t in enumerate(texts)]

    start = N_CONVS
    for _ in range(MERGES):
        wl.deltas.append((start, DELTA_CONVS))
        convs = g.unique_convs(start, start + DELTA_CONVS, 1)
        if not convs:
            raise RuntimeError("no delta conversation carries its unique term")
        wl.probes.append(uniq_term(convs[0]))
        start += DELTA_CONVS

    wl.burst = wl.point[: BURST]
    pick = g.rng.choice(len(wl.point), size=min(ORACLE_SAMPLE, len(wl.point)),
                        replace=False)
    wl.oracle = [wl.point[0]] + [wl.point[int(i)] for i in sorted(pick) if i != 0]
    return wl
