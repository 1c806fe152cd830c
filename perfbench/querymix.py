"""Seeded query mix shared by the two query workloads.

Candidates are drawn once per query index (``workloads.query_index``),
with a fixed seed, from the corpus itself: the golden index's term
document frequencies rank the vocabulary, and draws follow a Zipf law over
that ranking, so common terms come first.  Each class except ``zero_hit``
is re-drawn until the golden index finds at least one hit, so the
zero-hit share is exactly the weight of that class.  Every candidate is
stored with its golden answer, so a run does no golden work at all.

``--seed`` picks ``QUERIES_PER_CLASS`` candidates of each class,
Zipf-weighted over draw order, and the order of every round; each slot of
a round picks one of its class's queries Zipf-weighted, so common queries
repeat within a run and across seeds.  Every query is a string for
``parser.parse_query``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Dict, List

import numpy as np

# class -> slots per round of 16; zero_hit holds 2/16 = 12.5 % of queries
CLASS_WEIGHTS = {
    "term": 2, "term_highdf": 1, "and": 2, "or": 2, "phrase": 1,
    "phrase_slop2": 1, "field_scoped": 1, "wildcard": 1, "fuzzy": 1,
    "top100": 1, "agg_terms": 1, "zero_hit": 2,
}
DEFAULT_FIELDS = ["content"]
CANDIDATES_PER_CLASS = 12
QUERIES_PER_CLASS = 2
_MAX_DRAWS = 5000


@dataclass(frozen=True)
class QuerySpec:
    qid: int
    cls: str
    text: str
    limit: int
    agg: bool
    # agg: [[lang, doc_count], ...]; search: {"n": hits, "top10": [[path, score], ...]}
    golden: Any


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _zipf_pick(rng, items: List[Any], s: float = 1.1) -> Any:
    return items[int(rng.choice(len(items), p=_zipf_weights(len(items), s)))]


def _fuzz(rng, term: str) -> str:
    """One edit: drop a character or swap two adjacent ones."""
    i = int(rng.integers(1, len(term) - 1))
    if rng.random() < 0.5:
        return term[:i] + term[i + 1:]
    return term[:i] + term[i + 1] + term[i] + term[i + 2:]


class _Drawer:
    """Query strings of each class, drawn from the golden index's vocabulary."""

    def __init__(self, golden, seed: int):
        self.rng = np.random.default_rng(seed)
        by_df = sorted(golden.postings["content"].items(),
                       key=lambda kv: (-len(kv[1]), kv[0]))
        self.vocab = [t for t, _ in by_df]
        self.highdf = self.vocab[:8]
        self.repos = [t for t, _ in sorted(
            golden.postings["repo"].items(), key=lambda kv: (-len(kv[1]), kv[0]))]
        self.langs = sorted(golden.postings["lang"])
        self.long = [v for v in self.vocab[:100] if len(v) >= 5]

    def _term(self, top: int = 200) -> str:
        return _zipf_pick(self.rng, self.vocab[:top])

    def draw(self, cls: str) -> str:
        r = self.rng
        if cls in ("term", "top100", "agg_terms"):
            return f"content:{self._term()}"
        if cls == "term_highdf":
            return f"content:{r.choice(self.highdf)}"
        if cls == "and":
            if r.random() < 0.5:
                return f"content:{self._term()} AND lang:{r.choice(self.langs)}"
            return f"content:{self._term(40)} AND content:{self._term(40)}"
        if cls == "or":
            return f"content:{self._term()} OR content:{self._term()}"
        if cls in ("phrase", "phrase_slop2"):
            a, b = self._term(30), self._term(30)
            slop = "~2" if cls == "phrase_slop2" else ""
            return f'content:"{a} {b}"{slop}'
        if cls == "field_scoped":
            repo = _zipf_pick(r, self.repos, s=1.3)
            return f"repo:{repo} AND content:{self._term(100)}"
        if cls == "wildcard":
            return f"content:{_zipf_pick(r, self.long)[:4]}*"
        if cls == "fuzzy":
            return f"content:{_fuzz(r, _zipf_pick(r, self.long))}~1"
        if cls == "zero_hit":
            return f"content:{''.join(r.choice(list('qxzjkv'), size=7))}"
        raise ValueError(cls)


def draw_candidates(golden, paths: List[str], seed: int) -> Dict[str, List[dict]]:
    """Up to ``CANDIDATES_PER_CLASS`` distinct queries per class (fewer where
    the class has fewer, as ``term_highdf``), in draw order, each with its
    golden answer (doc ids given as their unique ``path``)."""
    from tantivy4java_spark import parser
    drawer = _Drawer(golden, seed)
    seen = set()
    out: Dict[str, List[dict]] = {}
    for cls in CLASS_WEIGHTS:
        pool: List[dict] = []
        for _ in range(_MAX_DRAWS):
            if len(pool) == CANDIDATES_PER_CLASS:
                break
            text = drawer.draw(cls)
            if text in seen:
                continue
            q = parser.parse_query(text, DEFAULT_FIELDS)
            scored = golden.score(q)
            if (not scored) != (cls == "zero_hit"):
                continue
            seen.add(text)
            limit = 100 if cls == "top100" else 10
            if cls == "agg_terms":
                langs: Dict[str, int] = {}
                for d in scored:
                    lang = golden.docs["lang"].iat[d]
                    langs[lang] = langs.get(lang, 0) + 1
                answer: Any = sorted([k, v] for k, v in langs.items())
            else:
                top = golden.topk(q, limit)
                answer = {"n": len(top),
                          "top10": [[paths[d], s] for d, s in top[:10]]}
            pool.append({"text": text, "limit": limit,
                         "agg": cls == "agg_terms", "golden": answer})
        if len(pool) < QUERIES_PER_CLASS:
            raise ValueError(f"query class {cls!r}: only {len(pool)} queries "
                             f"found in this corpus")
        out[cls] = pool
    return out


class QueryMix:
    def __init__(self, candidates: Dict[str, List[dict]], seed: int):
        self.rng = np.random.default_rng(seed)
        self.pools: Dict[str, List[QuerySpec]] = {}
        qid = 0
        for cls in CLASS_WEIGHTS:
            cands = candidates[cls]
            picks = self.rng.choice(len(cands), size=QUERIES_PER_CLASS,
                                    replace=False,
                                    p=_zipf_weights(len(cands), 1.0))
            self.pools[cls] = []
            for i in picks:
                c = cands[int(i)]
                self.pools[cls].append(QuerySpec(qid, cls, c["text"], c["limit"],
                                                 c["agg"], c["golden"]))
                qid += 1

    @property
    def distinct(self) -> List[QuerySpec]:
        return [q for pool in self.pools.values() for q in pool]

    def schedule(self, rounds: int) -> List[QuerySpec]:
        """``rounds`` rounds of 16 queries; classes interleaved in a fresh
        seeded order per round, each slot drawn Zipf-weighted from its
        class's queries."""
        slots = [c for c, w in CLASS_WEIGHTS.items() for _ in range(w)]
        out = []
        for _ in range(rounds):
            for cls in self.rng.permutation(slots):
                out.append(_zipf_pick(self.rng, self.pools[str(cls)], s=1.0))
        return out
