"""The three workloads: inputs made from a seed, one measured iteration, and
the check of that iteration's outputs.

- ingest:    the default six-stage `Pipeline.run()` over replicated fixture
             pages (hot domain above the salt threshold, giant pages).
- full_path: the paper's path at a small page count: core stages and
             retrievals, windowed CRF tagging with an `.npz` embedder for
             several models, the ensemble, entity-boosted retrievals2 and
             triples.
- dedup:     the five dedup operators over a synthetic Zipfian corpus with
             planted near-duplicate clusters, exact copies, a boilerplate
             footer and one giant doc.

Sizes are fixed here; only the seed varies between runs.
"""

from __future__ import annotations

import os
import random

import numpy as np
from pyspark.sql import functions as F

from kgner import io
from kgner.pipeline import Pipeline, PipelineConfig
from perfbench import checks
from perfbench.trace import Tracer, patched

SIZES = {
    "ingest": {"entities": 150, "base_pages": 300, "giant_pages": 1, "copies": 2},
    # pages are drawn from a larger fixture pool, keeping only pages of
    # 18-22 sentences, so every seed tags about the same number of tokens
    "full_path": {
        "entities": 40, "pages": 8, "pool": 240, "sentences": (18, 22),
        "models": 3, "max_window": 64, "stride": 32,
    },
    "dedup": {
        "docs": 500, "vocab": 6000, "clusters": 40, "exact_copies": 10,
        "footer_share": 0.35, "giant_words": 2000,
    },
}
CORE_STAGES = ["extracted", "sentences", "kb_sentences", "canonical", "mentions"]


def table_files(run_dir: str) -> dict[str, tuple[int, int]]:
    """table -> (parquet bytes, parquet files) under a run's workdir."""
    out = {}
    for table in sorted(os.listdir(run_dir)):
        root = os.path.join(run_dir, table)
        if table.startswith("_") or not os.path.isdir(root):
            continue
        nbytes = nfiles = 0
        for d, _, files in os.walk(root):
            for fn in files:
                if fn.endswith(".parquet"):
                    nbytes += os.path.getsize(os.path.join(d, fn))
                    nfiles += 1
        out[table] = (nbytes, nfiles)
    return out


def _commit(tracer: Tracer, write, df) -> None:
    """write(df) for a layer's output. Traced, the output is computed first
    (inside the caller's layer span) and the write gets its own `io` span."""
    if not tracer.enabled:
        write(df)
        return
    df = tracer.materialize(df)
    with tracer.span("io") as rec:
        write(df)
        rec["rows"] = df.count()


# the pipeline's stage methods and the layer each one calls into
STAGE_METHODS = {
    "stage_extracted": "text",
    "stage_sentences": "text",
    "stage_kb": "kbbuild",
    "stage_canonical": "canonicalize",
    "stage_mentions": "mentions",
    "stage_retrievals": "context",
    "stage_retrievals2": "retrieval",
    "stage_ensemble": "ensemble",
    "stage_triples": "triples",
}


class TracedPipeline(Pipeline):
    """`Pipeline` whose stage methods each run in a span of their layer, and
    whose stage writes compute the output before writing it in an `io`
    span."""

    def __init__(self, tracer: Tracer, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        for method, layer in STAGE_METHODS.items():
            bound = getattr(super(), method)
            setattr(self, method, self._spanned(layer, bound))

    def _spanned(self, layer, fn):
        def run():
            with self.tracer.span(layer):
                fn()

        return run

    def _write(self, name, df, partition_by=None, inputs=(), extras=None):
        _commit(
            self.tracer,
            lambda d: Pipeline._write(self, name, d, partition_by, inputs, extras),
            df,
        )


def _pipeline(tracer: Tracer, *args, **kwargs) -> Pipeline:
    if not tracer.enabled:
        return Pipeline(*args, **kwargs)
    return TracedPipeline(tracer, *args, **kwargs)


def _traced_operator(tracer: Tracer, layer: str):
    """Wrapper for a layer function the pipeline imports at call time: the
    call and its materialized result get a span of `layer`."""

    def wrap(fn):
        return lambda *args, **kwargs: tracer.call(layer, fn, *args, **kwargs)

    return wrap


class _Workload:
    name = ""

    def __init__(self, spark, seed: int, cores: int, inputs_dir: str):
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.inputs_dir = inputs_dir
        self.size = SIZES[self.name]
        self._cached: list = []

    def _keep(self, df):
        df = df.cache()
        df.count()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []


class Ingest(_Workload):
    name = "ingest"
    unit = "pages"

    def build(self) -> None:
        from kgner.fixtures import build_fixtures, to_spark

        s = self.size
        self.release()
        self.fx = build_fixtures(
            n_entities=s["entities"], n_pages=s["base_pages"],
            giant_pages=s["giant_pages"], seed=self.seed,
        )
        t = to_spark(self.spark, self.fx)
        copies = F.explode(F.sequence(F.lit(0), F.lit(s["copies"] - 1)))
        # each fixture page becomes `copies` pages under unique urls
        self.pages = self._keep(
            t["pages"].withColumn("rep", copies)
            .withColumn("url", F.concat_ws("/", "url", F.col("rep").cast("string")))
            .drop("rep")
        )
        self.kb_pages = self._keep(t["kb_pages"])
        self.redirects = self._keep(t["redirects"])
        self.items = len(self.fx.pages) * s["copies"]
        self._expected = None

    def iterate(self, tracer: Tracer, run_dir: str) -> None:
        cfg = PipelineConfig(
            workdir=run_dir, salt_buckets=2 * self.cores, salt_threshold=0.2
        )
        pipe = _pipeline(
            tracer, self.spark, cfg, self.pages, self.kb_pages, self.redirects
        )
        pipe.run()
        if not pipe.salt_engaged:
            raise RuntimeError("hot domain did not engage salting")

    def check(self, run_dir: str) -> dict:
        from kgner.oracle.pipeline import oracle_triples

        if self._expected is None:
            self._expected = checks.replicate_triples(
                oracle_triples(self.fx), self.size["copies"]
            )
        got = _triples(self.spark, run_dir)
        p, r = checks.precision_recall(got, self._expected)
        return {"triple_precision": p, "triple_recall": r, "triples": len(got)}


def _triples(spark, run_dir: str) -> set:
    rows = (
        io.read_table(spark, run_dir, "triples")
        .select("subj", "pred", "obj").distinct().collect()
    )
    return {tuple(r) for r in rows}


def steady_pages(fx, n_pages: int, lo: int, hi: int):
    """Keep the first `n_pages` fixture pages with lo..hi sentences, plus the
    fixed script pages, and the gold mentions of the kept pages."""
    from kgner.textops import split_sentences

    def n_sents(page) -> int:
        return sum(len(split_sentences(p, page["lang"])) for p in page["text"].split("\n"))

    random_pages = [p for p in fx.pages if "cjk.example.org" not in p["url"]]
    kept = [p for p in random_pages if lo <= n_sents(p) <= hi][:n_pages]
    if len(kept) < n_pages:
        raise RuntimeError(f"fixture pool has {len(kept)} pages of {lo}-{hi} sentences")
    kept += [p for p in fx.pages if "cjk.example.org" in p["url"]]
    urls = {p["url"] for p in kept}
    fx.pages = kept
    fx.gold_mentions = [m for m in fx.gold_mentions if m["url"] in urls]
    return fx


TAGSET = ["O", "B-ENT", "I-ENT"]


def write_embedder(fx, path: str, seed: int) -> None:
    """An `.npz` embedding table over the fixture's subtoken vocabulary.

    Dimensions 0-2 encode the tag a token's first subtoken implies (outside,
    first token of an alias, later alias token); the rest are seeded noise.
    Subtokens of alias tokens and of the page/KB vocabulary are all rows."""
    from kgner.fixtures import DISTRACTORS
    from kgner.textops import bpe_ish_tokens

    role: dict[str, int] = {}
    for alias in fx.alias_map:
        for i, tok in enumerate(alias.split()):
            role.setdefault(bpe_ish_tokens(tok)[0], 1 if i == 0 else 2)
    words = set(DISTRACTORS)
    for page in fx.kb_pages:
        for para in page["paragraphs"]:
            words.update(para["text"].split())
    for w in sorted(words):
        for piece in bpe_ish_tokens(w):
            role.setdefault(piece, 0)
    vocab = sorted(role)
    rng = np.random.default_rng(seed)
    dim = 16
    vectors = rng.normal(0.0, 0.2, (len(vocab), dim))
    for i, piece in enumerate(vocab):
        vectors[i, role[piece]] = 5.0
    oov = rng.normal(0.0, 0.2, dim)
    oov[0] = 5.0
    np.savez(path, vocab=np.array(vocab), vectors=vectors, oov=oov)


def crf_model(seed: int, model_id: int, dim: int = 16):
    """Emission weights and CRF transitions of one simulated model: the tag
    dimensions pass through, the noise dimensions get model-specific
    weights, and O->I / START->I transitions are forbidden."""
    rng = np.random.default_rng([seed, model_id])
    w = rng.normal(0.0, 0.1, (dim, len(TAGSET)))
    w[0, 0] = w[1, 1] = w[2, 2] = 1.0
    transitions = np.zeros((len(TAGSET) + 2, len(TAGSET) + 2))
    transitions[0, 2] = -10.0
    transitions[len(TAGSET), 2] = -10.0
    return w, transitions


class FullPath(_Workload):
    name = "full_path"
    unit = "pages"

    def build(self) -> None:
        from kgner.fixtures import build_fixtures, to_spark

        s = self.size
        self.release()
        self.fx = steady_pages(
            build_fixtures(
                n_entities=s["entities"], n_pages=s["pool"], n_models=s["models"],
                giant_pages=0, seed=self.seed,
            ),
            s["pages"], *s["sentences"],
        )
        t = to_spark(self.spark, self.fx)
        self.pages = self._keep(t["pages"])
        self.kb_pages = self._keep(t["kb_pages"])
        self.redirects = self._keep(t["redirects"])
        self.embedder = os.path.join(self.inputs_dir, f"embedder_{self.seed}.npz")
        write_embedder(self.fx, self.embedder, self.seed)
        self.items = len(self.fx.pages)
        self._oracle = None

    def _predictions(self, run_dir: str):
        """Tag the `<EOS>`-joined augmented stream of every sentence with
        each model (windowed CRF over the `.npz` embedder)."""
        from kgner.functions.text import subtoken_len_col, tokens_col
        from kgner.operators.inference import load_npz_embedder, tag_with_crf

        s = self.size
        sents = io.read_table(self.spark, run_dir, "sentences")
        retr = io.read_table(self.spark, run_dir, "retrievals")
        stream = (
            sents.select(
                F.xxhash64("url", "sent_id").alias("query_id"), "url", "sent_id"
            )
            .join(retr.select("query_id", "augmented"), "query_id")
            .select(
                "url", "sent_id",
                tokens_col(F.col("augmented")).alias("tokens"),
                subtoken_len_col(F.col("augmented")).alias("subtoken_len"),
            )
        )
        embed = load_npz_embedder(self.embedder)
        preds = None
        for m in range(s["models"]):
            w, trans = crf_model(self.seed, m)
            p = tag_with_crf(
                stream, w, trans, TAGSET, embed_fn=embed,
                max_window=s["max_window"], stride=s["stride"],
            ).withColumn("model_id", F.lit(m))
            preds = p if preds is None else preds.unionByName(p)
        return preds.join(stream.select("url", "sent_id", "tokens"), ["url", "sent_id"])

    def iterate(self, tracer: Tracer, run_dir: str) -> None:
        import kgner.operators.kbbuild as kbbuild
        import kgner.operators.retrieval as retrieval
        from contextlib import ExitStack

        with ExitStack() as stack:
            if tracer.enabled:
                # the retrieval stages build the KB index and run BM25 before
                # their own write; give each its span
                stack.enter_context(patched(
                    kbbuild, "kb_index", _traced_operator(tracer, "kbbuild")))
                stack.enter_context(patched(
                    retrieval, "bm25_topk", _traced_operator(tracer, "retrieval")))
            first = PipelineConfig(workdir=run_dir, stages=CORE_STAGES + ["retrievals"])
            _pipeline(
                tracer, self.spark, first, self.pages, self.kb_pages, self.redirects
            ).run()
            preds = tracer.call("inference", self._predictions, run_dir)
            rest = PipelineConfig(
                workdir=run_dir,
                stages=CORE_STAGES + ["retrievals", "retrievals2", "ensembled", "triples"],
            )
            pipe = _pipeline(
                tracer, self.spark, rest, self.pages, self.kb_pages, self.redirects,
                model_predictions=preds,
            )
            pipe.run()
        if sorted(pipe.ran) != ["ensembled", "retrievals2", "triples"]:
            raise RuntimeError(f"second pipeline pass ran {pipe.ran}")

    def _oracle_sets(self):
        from kgner.oracle.pipeline import oracle_triples

        if self._oracle is None:
            gold = {
                (m["url"], m["sent_id"], m["start"], m["end"])
                for m in self.fx.gold_mentions
            }
            self._oracle = (oracle_triples(self.fx), gold)
        return self._oracle

    def check(self, run_dir: str) -> dict:
        from kgner.operators.kbbuild import kb_index

        spark = self.spark
        expected, gold = self._oracle_sets()
        triples = _triples(spark, run_dir)
        p, r = checks.precision_recall(triples, expected)

        sents = io.read_table(spark, run_dir, "sentences").select(
            F.xxhash64("url", "sent_id").alias("query_id"),
            "url", "sent_id", "sentence", "n_tokens",
        ).collect()
        sent_len = {(x["url"], x["sent_id"]): x["n_tokens"] for x in sents}
        spans = {
            tuple(x)
            for x in io.read_table(spark, run_dir, "ensembled")
            .select("url", "sent_id", "start", "end").collect()
        }
        recall, outside = checks.span_recall(gold, spans, sent_len)

        from kgner.functions.text import tokens_col

        retr = io.read_table(spark, run_dir, "retrievals")
        over_budget = retr.filter(F.col("used_subtokens") > 510).count()
        stream_tokens = retr.agg(F.sum(F.size(tokens_col(F.col("augmented"))))).first()[0]

        # retrieval: a seeded sample of queries against kgner.bm25 on the driver
        rng = random.Random(self.seed)
        sample = rng.sample(sents, min(24, len(sents)))
        qids = [x["query_id"] for x in sample]
        by_key = {(x["url"], x["sent_id"]): x["query_id"] for x in sample}
        boosts: dict[int, set] = {}
        for m in io.read_table(spark, run_dir, "mentions").select(
            "url", "sent_id", "entity_id"
        ).collect():
            q = by_key.get((m["url"], m["sent_id"]))
            if q is not None:
                boosts.setdefault(q, set()).add(m["entity_id"])
        _, docs = kb_index(io.read_table(spark, run_dir, "kb_sentences"))
        doc_rows = [tuple(x) for x in docs.select("doc_id", "title", "sentence").collect()]
        want = checks.bm25_expected(
            {x["query_id"]: x["sentence"] for x in sample}, boosts, doc_rows
        )
        ranked: dict[int, list] = {}
        for x in (
            io.read_table(spark, run_dir, "retrievals2")
            .filter(F.col("query_id").isin(qids))
            .select("query_id", "rank", "doc_id", "score").collect()
        ):
            ranked.setdefault(x["query_id"], []).append((x["rank"], x["doc_id"], x["score"]))
        got = {q: [(d, sc) for _, d, sc in sorted(v)] for q, v in ranked.items()}
        return {
            "triple_precision": p,
            "triple_recall": r,
            "span_recall": recall,
            "spans_outside_sentence": outside,
            "context_over_budget": over_budget,
            "retrieval_match": checks.retrieval_match(got, want, k=10),
            "triples": len(triples),
            "tokens_tagged": int(stream_tokens or 0) * self.size["models"],
        }


def dedup_corpus(seed: int, size: dict):
    """-> ({doc_id: text}, planted near-duplicate pairs).

    Zipfian words over a large vocabulary; clusters of 2-3 docs that each
    differ from a base doc by one substituted word; exact copies; a
    boilerplate footer on a share of the docs (hot shingles); one giant doc."""
    rng = random.Random(seed)
    vocab = [f"w{i:05d}" for i in range(size["vocab"])]
    weights = [1.0 / (r + 1) ** 0.9 for r in range(len(vocab))]
    footer = " ".join(f"footer{i:02d}" for i in range(12))

    def words(n: int) -> list[str]:
        return rng.choices(vocab, weights, k=n)

    texts: dict[int, str] = {}
    planted: set[tuple[int, int]] = set()
    next_id = 0

    def add(toks: list[str], with_footer: bool) -> int:
        nonlocal next_id
        doc = next_id
        next_id += 1
        texts[doc] = " ".join(toks) + (" " + footer if with_footer else "")
        return doc

    n_plain = size["docs"] - 1 - size["exact_copies"]
    bases = []
    while next_id < n_plain:
        toks = words(rng.randint(80, 140))
        with_footer = rng.random() < size["footer_share"]
        doc = add(toks, with_footer)
        if len(bases) < size["clusters"]:
            members = [doc]
            for _ in range(rng.randint(1, 2)):
                if next_id >= n_plain:
                    break
                near = list(toks)
                near[rng.randrange(len(near))] = rng.choice(vocab)
                members.append(add(near, with_footer))
            bases.append(members)
            planted.update(
                (a, b) for i, a in enumerate(members) for b in members[i + 1:]
            )
    singles = [d for d in texts if not any(d in m for m in bases)]
    for src in rng.sample(singles, size["exact_copies"]):
        planted.add((src, add(texts[src].split(" "), False)))
    add(words(size["giant_words"]), False)
    return texts, planted


class Dedup(_Workload):
    name = "dedup"
    unit = "docs"
    THRESHOLD = 0.8
    MAX_SHINGLE_DF = 50
    MAX_DOC_SHINGLES = 2000

    def build(self) -> None:
        self.release()
        self.texts, self.planted = dedup_corpus(self.seed, self.size)
        self.docs = self._keep(
            self.spark.createDataFrame(
                sorted(self.texts.items()), "doc_id long, text string"
            ).repartition(2 * self.cores)
        )
        self.items = len(self.texts)
        self._sets = None

    def iterate(self, tracer: Tracer, run_dir: str) -> None:
        from kgner.operators.dedup import (
            dedup_keep_min, exact_dedup, minhash_lsh_pairs,
            ngram_jaccard_pairs, simhash_near_pairs,
        )

        def commit(name, fn, *args, **kwargs):
            with tracer.span("dedup"):
                _commit(
                    tracer, lambda d: io.write_table(d, run_dir, name),
                    fn(*args, **kwargs),
                )

        docs = self.docs
        commit("exact", exact_dedup, docs)
        commit("minhash", minhash_lsh_pairs, docs, threshold=self.THRESHOLD)
        commit("simhash", simhash_near_pairs, docs)
        commit(
            "ngram", ngram_jaccard_pairs, docs, threshold=self.THRESHOLD,
            max_shingle_df=self.MAX_SHINGLE_DF, max_doc_shingles=self.MAX_DOC_SHINGLES,
        )
        pairs = None
        for name in ("minhash", "simhash", "ngram"):
            p = io.read_table(self.spark, run_dir, name).select("doc_a", "doc_b")
            pairs = p if pairs is None else pairs.unionByName(p)
        commit("survivors", dedup_keep_min, docs, pairs.distinct())

    def check(self, run_dir: str) -> dict:
        spark = self.spark
        if self._sets is None:
            self._sets = checks.discriminative_sets(
                self.texts, 3, self.MAX_SHINGLE_DF, self.MAX_DOC_SHINGLES
            )

        def pairs(name):
            return [tuple(r) for r in io.read_table(spark, run_dir, name).collect()]

        ngram = pairs("ngram")
        found = {name: {(a, b) for a, b, _ in pairs(name)} for name in ("minhash", "simhash")}
        found["ngram"] = {(a, b) for a, b, _ in ngram}
        reported = set().union(*found.values())
        exact = {
            r["keep_id"]: r["group_size"]
            for r in io.read_table(spark, run_dir, "exact").collect()
        }
        kept = {
            r["doc_id"]
            for r in io.read_table(spark, run_dir, "survivors").select("doc_id").collect()
        }
        return {
            "dup_recall": checks.pair_recall(self.planted, found["ngram"]),
            "dup_precision": checks.jaccard_precision(ngram, self._sets, self.THRESHOLD),
            "minhash_recall": checks.pair_recall(self.planted, found["minhash"]),
            "simhash_recall": checks.pair_recall(self.planted, found["simhash"]),
            "exact_groups_match": float(exact == checks.exact_groups(self.texts)),
            "survivors_match": float(kept == checks.survivors(set(self.texts), reported)),
            "pairs_reported": len(reported),
        }


WORKLOADS = {w.name: w for w in (Ingest, FullPath, Dedup)}
