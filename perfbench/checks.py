"""Correctness checks, as pure functions over outputs collected to the driver.

Each check recomputes the expected answer without Spark (from the fixture
oracle, `kgner.bm25` or a plain-Python replay of the dedup definitions) and
returns a ratio. `FLOORS` holds the pass marks; a run whose ratio misses
its floor is a failed run.
"""

from __future__ import annotations

import hashlib
import re

from kgner.bm25 import bm25_rank
from kgner.linkops import connected_components
from kgner.textops import tokenize

FLOORS = {
    "triple_precision": 0.95,
    "triple_recall": 0.95,
    "span_recall": 0.95,
    "retrieval_match": 1.0,
    "dup_recall": 0.95,
    "dup_precision": 1.0,
    "exact_groups_match": 1.0,
    "survivors_match": 1.0,
}
# counts of outputs that must not exist
ZERO = ("spans_outside_sentence", "context_over_budget")


def misses(result: dict[str, float]) -> list[str]:
    """Names of the check results that fail: a ratio below its floor or a
    must-be-zero count above zero. Other entries are informational."""
    low = [k for k, v in result.items() if k in FLOORS and not v >= FLOORS[k]]
    return low + [k for k in ZERO if result.get(k, 0) != 0]


def precision_recall(got: set, expected: set) -> tuple[float, float]:
    tp = len(got & expected)
    return tp / max(len(got), 1), tp / max(len(expected), 1)


def replicate_triples(base: set, factor: int) -> set:
    """Oracle triples of `factor` url-suffixed copies of the base pages.

    Only `mentions` triples carry the page url (as subject); entity-level
    triples are the same for every copy."""
    out = set()
    for subj, pred, obj in base:
        if pred == "mentions":
            out.update((f"{subj}/{r}", pred, obj) for r in range(factor))
        else:
            out.add((subj, pred, obj))
    return out


def span_recall(gold: set, spans: set, sent_len: dict) -> tuple[float, int]:
    """(recall of gold (url, sent_id, start, end) spans among `spans` that lie
    inside the original sentence, count of spans reaching past it)."""
    inside = {s for s in spans if s[3] <= sent_len.get((s[0], s[1]), -1)}
    return len(gold & inside) / max(len(gold), 1), len(spans - inside)


def bm25_expected(
    queries: dict,
    boosts: dict,
    docs: list[tuple[int, str, str]],
) -> dict:
    """query_id -> {doc_id: score} for every doc the query scores on, from
    `kgner.bm25.bm25_rank`.

    queries: query_id -> sentence text; boosts: query_id -> entity ids;
    docs: (doc_id, title, sentence) rows of the KB index."""
    postings: dict[str, dict[int, int]] = {}
    lens: dict[int, int] = {}
    titles: dict[int, list[str]] = {}
    for doc_id, title, sentence in docs:
        toks = [t.lower() for t in tokenize(sentence)]
        lens[doc_id] = len(toks)
        for t in toks:
            postings.setdefault(t, {})
            postings[t][doc_id] = postings[t].get(doc_id, 0) + 1
        titles[doc_id] = re.split(r"\s+", title.lower().strip(" ")) if title else []
    out = {}
    for qid, sentence in queries.items():
        terms = [t.lower() for t in tokenize(sentence)]
        bterms = [t for e in sorted(boosts.get(qid, ())) for t in re.split(r"\s+", e.lower())]
        out[qid] = dict(bm25_rank(terms, postings, lens, len(lens), titles, bterms or None))
    return out


def topk_matches(got: list[tuple[int, float]], scores: dict[int, float], k: int) -> bool:
    """Is `got` ((doc_id, score) in rank order) a correct BM25 top-k?

    Every returned score must equal the driver's score for that doc, the
    scores must equal the driver's k best in order, and docs the driver
    ranks strictly above the k-th score must all be present. Docs tied in
    score may come in either order: the engine sums a doc's terms in any
    order, so exact ties can differ in the last bit."""
    def close(a: float, b: float) -> bool:
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))

    best = sorted(scores.values(), reverse=True)[:k]
    if len(got) != len(best):
        return False
    if not all(d in scores and close(s, scores[d]) for d, s in got):
        return False
    if not all(close(s, b) for (_, s), b in zip(got, best)):
        return False
    kth = best[-1] if best else 0.0
    must = {d for d, s in scores.items() if s > kth and not close(s, kth)}
    return must <= {d for d, _ in got}


def retrieval_match(got: dict, expected: dict, k: int) -> float:
    """Share of sampled queries whose returned top-k is a correct top-k."""
    same = sum(1 for q, sc in expected.items() if topk_matches(got.get(q, []), sc, k))
    return same / max(len(expected), 1)


# --- dedup replay -----------------------------------------------------------


def shingles(text: str, n: int) -> set[str]:
    """Distinct word n-grams, as `kgner.operators.dedup._shingle_arr` forms
    them: lower-case, trim spaces, split on whitespace runs."""
    toks = re.split(r"\s+", text.lower().strip(" "))
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def discriminative_sets(
    texts: dict[int, str], n: int, max_shingle_df: int, max_doc_shingles: int | None
) -> dict[int, set[str]]:
    """Per-doc shingle sets after the df cut and the per-doc bottom-k cap
    (md5 hex prefix order, shingle tiebreak) that `ngram_jaccard_pairs`
    applies before it compares two docs."""
    sets = {d: shingles(t, n) for d, t in texts.items()}
    df: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    out = {}
    for d, s in sets.items():
        keep = [sh for sh in s if df[sh] <= max_shingle_df]
        if max_doc_shingles is not None and len(keep) > max_doc_shingles:
            keep.sort(key=lambda sh: (hashlib.md5(sh.encode()).hexdigest()[:16], sh))
            keep = keep[:max_doc_shingles]
        out[d] = set(keep)
    return out


def jaccard_precision(
    pairs: list[tuple[int, int, float]], sets: dict[int, set[str]], threshold: float
) -> float:
    """Share of reported (a, b, jaccard) pairs whose Jaccard equals the replay
    and clears the threshold."""
    ok = 0
    for a, b, j in pairs:
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        want = inter / (len(sa) + len(sb) - inter)
        ok += abs(want - j) < 1e-9 and want >= threshold
    return ok / max(len(pairs), 1)


def pair_recall(planted: set[tuple[int, int]], found: set[tuple[int, int]]) -> float:
    return len(planted & found) / max(len(planted), 1)


def survivors(doc_ids: set[int], pairs: set[tuple[int, int]]) -> set[int]:
    """Docs left when each connected component of `pairs` keeps its min id."""
    comp = connected_components([(str(a), str(b)) for a, b in pairs])
    groups: dict[str, list[int]] = {}
    for node, rep in comp.items():
        groups.setdefault(rep, []).append(int(node))
    losers = {d for members in groups.values() for d in members if d != min(members)}
    return doc_ids - losers


def exact_groups(texts: dict[int, str]) -> dict[int, int]:
    """keep_id -> group size for docs equal after whitespace/case folding."""
    groups: dict[str, list[int]] = {}
    for d, t in texts.items():
        groups.setdefault(re.sub(r"\s+", " ", t.strip(" ")).lower(), []).append(d)
    return {min(ds): len(ds) for ds in groups.values()}
