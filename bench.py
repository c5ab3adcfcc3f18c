"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Extras folded into the same line:
- "query_variants": which variant each headline number measures — three
  queries run their PRODUCTION form in the headline (xxhash64 minhash and
  simhash, score-only bm25) with the oracle-checkable contract forms timed
  alongside under "contract_variants_sec" (the md5-affine signatures and
  hit-highlight columns exist for DuckDB replay, not for production).
  NOTE: contract and production forms are DIFFERENT topologies (the bm25
  contract query shares the production scoring but ranks by the rounded
  score and skips the display-column join), so they are not a
  less-work-is-faster pair; the "bm25_operator_pair_sec" field IS such a
  pair — the same operator on the same inputs with_hits=True vs False;
- "query_samples_sec": all 3 raw samples behind each median, so
  run-to-run spread (single-JVM noise) stays visible per query;
- "triples_per_sec": throughput of the KG pipeline (fixture pages -> triples)
  — the BASELINE.json headline metric;
- "contextual_pipeline_sec": assemble_context -> tag -> strip -> vote e2e;
- with KGNER_SCALING=1: the same workload at local[8] vs local[32] and the
  scaling efficiency (T8/T32)/4 — the sandbox stand-in for N vs 4N executors
  (see BASELINE.md). KGNER_SCALING_ONLY=1 emits just the scaling section
  (no headline first), so the measurement starts in the current host window
  — pair it with a busy-loop calibration probe to catch quiet windows.
  KGNER_SCALE_INFLATE lengthens the scaling job (2688 ≈ 230 s at 4 cores);
  longer jobs amortize the fixed per-job DAG cost that a 40 s n16 run pays
  ~10% of, the same way real 100 TB stages run minutes per wave.

Queries are materialized with the noop sink so column pruning cannot skip
the measured work.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "bm25_retrieval",
    "entity_spans",
    "mention_cooccur",
    "ngram_jaccard",
    "minhash_lsh",
    "simhash_dups",
    "exact_dedup",
    "lang_id",
    "quality",
    "token_counts",
    "pricing_summary",
    "top_revenue_orders",
    "sessionize",
    "event_gaps",
    "cosine_topk",
    "vocab",
]


# ---------------------------------------------------------------------------
# Production variants: two contract queries deliberately carry ORACLE TAX —
# md5-derived minhash signatures (so DuckDB can replay them) and
# matched_terms/highlight hit columns (reference row parity). The headline
# measures the PRODUCTION paths (xxhash64 signatures; score-only top-k);
# the contract variants are timed alongside under "contract_variants" so
# the oracle tax is visible instead of read as engine cost.
# ---------------------------------------------------------------------------

def prod_minhash_lsh(spark, sf_dir):
    """q_minhash_lsh with the production xxhash64 signature family."""
    from pyspark.sql import functions as F

    from kgner.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return minhash_lsh_pairs(doubled, num_hashes=16, bands=4, threshold=0.999)


def bm25_operator_workload(with_hits: bool):
    """The EXACT q_bm25_retrieval workload (shared bm25_contract_inputs —
    same corpus, postings, and query set by construction) through the
    production operator. ONE definition serves both the headline production
    variant (with_hits=False) and the with/without-hits operator pair, so
    the 'same operator on the same inputs' claim cannot drift."""

    def run(spark, sf_dir):
        from pyspark.sql import functions as F

        from kgner.operators.retrieval import bm25_topk
        from kgner.queries import bm25_contract_inputs

        queries, postings, docs = bm25_contract_inputs(spark, sf_dir)
        return bm25_topk(
            queries.select("query_id", F.col("qterms").alias("tokens")),
            postings,
            docs,
            k=10,
            with_hits=with_hits,
        )

    return run


prod_bm25_retrieval = bm25_operator_workload(False)


def prod_simhash_dups(spark, sf_dir):
    """q_simhash_dups with the production xxhash64 token hashes (the
    contract variant pays one md5 PER TOKEN so DuckDB can replay the
    majority-vote bits)."""
    from pyspark.sql import functions as F

    from kgner.operators.dedup import simhash_near_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return simhash_near_pairs(doubled, max_hamming=0)


PROD_VARIANTS = {
    "minhash_lsh": (prod_minhash_lsh, "production: xxhash64 signatures"),
    "bm25_retrieval": (prod_bm25_retrieval, "production: score-only, with_hits=False"),
    "simhash_dups": (prod_simhash_dups, "production: xxhash64 token hashes"),
}


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _clear_persisted(spark) -> None:
    """Unpersist leftover cached/localCheckpointed RDDs between queries so
    earlier queries' checkpoint blocks don't squeeze later ones."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd in list(jmap.values()):
            rdd.unpersist()
    except Exception:
        pass
    spark.catalog.clearCache()


def run_queries(
    spark, sf_dir: str
) -> tuple[
    dict[str, float], dict[str, str], dict[str, float], dict[str, float],
    dict[str, list[float]],
]:
    from pyspark.sql import functions as F

    from kgner.queries import QUERIES

    # session warm-up: first job pays codegen compile + parquet footer reads
    # + python worker fork; none of that is per-query cost on a live cluster
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _materialize(docs.select(F.lower("text").alias("t")))
    from kgner.operators.ensemble import decode_spans_udf

    _materialize(
        docs.limit(512).repartition(32).select(
            decode_spans_udf(F.split("text", " ").cast("array<string>")).alias("s")
        )
    )

    all_samples: dict[str, list[float]] = {}

    def timed(fn, key: str) -> float:
        # median-of-3 for EVERY query: single-JVM disk/GC noise inflates one
        # sample 3-5x and a single cold sample once inverted a paired
        # production-vs-contract comparison (r3: score-only bm25 "slower"
        # than the with-hits form). A min would be one-sidedly biased by
        # cache-warm re-runs; the median keeps one cold and one hot outlier
        # from steering the number. Raw samples are emitted
        # (query_samples_sec) so run-to-run spread stays visible.
        samples = []
        for _ in range(3):
            _clear_persisted(spark)
            t0 = time.monotonic()
            _materialize(fn(spark, sf_dir))
            samples.append(round(time.monotonic() - t0, 3))
        all_samples[key] = samples
        return sorted(samples)[1]

    out: dict[str, float] = {}
    variants: dict[str, str] = {}
    contract: dict[str, float] = {}
    for name in HEADLINE:
        fn, label = PROD_VARIANTS.get(name, (QUERIES[name], "contract"))
        out[name] = timed(fn, name)
        variants[name] = label
        if name in PROD_VARIANTS:
            # time the oracle-checkable contract variant alongside, so the
            # oracle tax stays visible without charging the headline
            contract[name] = timed(QUERIES[name], f"{name}:contract")
    # apples-to-apples hits pair: the SAME operator on the SAME inputs with
    # and without the ES-highlight columns. (The contract query q_bm25_*
    # scores through the same bm25_scores but ranks by the ROUNDED score
    # and never joins the display columns — so prod-vs-contract alone
    # cannot support a "score-only must be faster" claim; this pair can.)
    # Both sides share ONE workload definition (bm25_operator_workload) so
    # they cannot drift, and both are timed fresh BACK-TO-BACK — the
    # score-only side deliberately is NOT the headline's earlier samples,
    # which ran minutes before in a colder session state and would re-open
    # the time-separated comparison this pair exists to close.
    hits_pair = {
        "with_hits": timed(bm25_operator_workload(True), "bm25_operator:with_hits"),
        "score_only": timed(
            bm25_operator_workload(False), "bm25_operator:score_only"
        ),
    }
    return out, variants, contract, hits_pair, all_samples


def run_kg_pipeline(spark, n_pages: int = 1200) -> tuple[float, int]:
    """Fixture pages -> triples end-to-end; returns (sec, n_triples)."""
    from pyspark.sql import functions as F

    from kgner.fixtures import build_fixtures, to_spark
    from kgner.functions.text import with_sentences
    from kgner.operators.canonicalize import canonical_map
    from kgner.operators.kbbuild import alias_edges, kb_sentences
    from kgner.operators.mentions import detect_mentions
    from kgner.operators.triples import all_triples

    fx = build_fixtures(n_entities=150, n_pages=n_pages, giant_pages=2)
    t = to_spark(spark, fx)
    pages = t["pages"].cache()
    pages.count()  # exclude fixture generation from the measured window

    def job():
        kbs = kb_sentences(t["kb_pages"])
        canon = canonical_map(
            alias_edges(t["kb_pages"], t["redirects"]), t["kb_pages"].select("title")
        )
        sents = with_sentences(pages)
        mentions = detect_mentions(spark, sents, canon)
        return all_triples(mentions, kbs, canon)

    job().count()  # warm-up run (worker fork + codegen)
    times, n = [], 0
    for _ in range(3):
        t0 = time.monotonic()
        n = job().count()
        times.append(time.monotonic() - t0)
    pages.unpersist()
    # min-of-3: the DAG is fixed, so the floor is the engine cost and the
    # spread above it is single-JVM GC/IO noise
    return min(times), n


def _busy_loop(iters: int) -> float:
    """One calibration worker: fixed CPU-bound python work, wall seconds."""
    t0 = time.monotonic()
    x = 0
    for i in range(iters):
        x += i % 7
    return time.monotonic() - t0


def calibrate_core_clock(conc: int, iters: int = 30_000_000) -> float:
    """Median per-worker seconds for `conc` concurrent busy loops on the
    current CPU affinity mask — measures the HOST's effective per-core clock
    at this saturation level. On this sandbox the hypervisor/turbo budget
    slows each core as more cores go busy (~11% at 16-of-32, ~25% at 32);
    a real 4N cluster is 4N machines at the SAME clock, so the N-vs-4N
    efficiency is reported both raw and clock-adjusted by the ratio of
    these calibrations."""
    import multiprocessing as mp

    with mp.get_context("fork").Pool(conc) as p:
        times = sorted(p.map(_busy_loop, [iters] * conc))
    return times[len(times) // 2]


def run_scaling_workload(spark, inflate: int | None = None, n_pages: int = 800) -> tuple[float, int]:
    """Mention-extraction throughput job for the N-vs-4N scaling measurement.

    This is the map-dominant hot path that owns ~all compute at 100 TB:
    html extract -> sentence split -> gazetteer mention scan -> count
    (count's aggregation is map-side partial, so the job is shuffle-light by
    construction — shuffle bandwidth is a network property a single JVM
    cannot model; full-DAG throughput incl. shuffles is reported separately
    as kg_pipeline/triples_per_sec).

    Fixture pages are inflated x`inflate` INSIDE Spark (explode of a
    repeat-sequence, unique urls) so the measured region is dominated by the
    embarrassingly-parallel work rather than driver-side fixture generation.
    Python workers are warmed at full partition width before measuring (a
    long-running cluster pays the worker fork+import once per executor, not
    per job). Returns (sec, n_mentions).
    """
    from pyspark.sql import functions as F

    from kgner.fixtures import build_fixtures, to_spark
    from kgner.operators.canonicalize import canonical_map
    from kgner.operators.kbbuild import alias_edges
    from kgner.operators.mentions import (
        detect_mentions_from_pages,
        prepare_alias_broadcast,
    )

    if inflate is None:
        # KGNER_SCALE_INFLATE lengthens the job (default ~42 s at 4 cores):
        # longer jobs amortize fixed DAG/scheduling costs, the same way real
        # 100 TB stages run minutes-to-hours per wave
        inflate = int(os.environ.get("KGNER_SCALE_INFLATE", "448"))
    fx = build_fixtures(n_entities=150, n_pages=n_pages, giant_pages=2)
    t = to_spark(spark, fx)
    # 8 tasks per core-wave amortizes stragglers (giant pages) at any level
    n_parts = spark.sparkContext.defaultParallelism * 8
    pages = (
        t["pages"]
        .select("url", "lang", "html")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(inflate - 1))))
        .withColumn("url", F.concat_ws("#", "url", "rep"))
        .drop("rep")
        .repartition(n_parts)
        .cache()
    )
    pages.count()
    canon = canonical_map(
        alias_edges(t["kb_pages"], t["redirects"]), t["kb_pages"].select("title")
    )
    b_alias = prepare_alias_broadcast(spark, canon)

    def job(src):
        return detect_mentions_from_pages(spark, src, alias_broadcast=b_alias)

    warm = pages.sample(0.02, seed=1).repartition(n_parts)
    job(warm).count()
    runs = int(os.environ.get("KGNER_SCALE_RUNS", "1"))
    times, n = [], 0
    for _ in range(runs):
        t0 = time.monotonic()
        n = job(pages).count()
        times.append(time.monotonic() - t0)
    pages.unpersist()
    return sorted(times)[len(times) // 2], n


def run_skew_workload(spark, inflate: int = 48, n_pages: int = 400) -> dict:
    """Skewed-hot-domain extract->mentions run, salting OFF vs ON — the
    measured value of the pipeline's salt_buckets skew guard
    (kgner/pipeline.py stage_extracted).

    Input models a domain-clustered crawl ingest: 87.5% of pages belong to
    one hot domain (the rest spread over 40 cold domains), and pages arrive
    hash-partitioned BY DOMAIN (repartition on the host), so unsalted the
    hot domain is one straggler task. The salted
    variant applies the pipeline's exact skew guard — repartition on
    (domain hash, random salt) — before the same map-heavy work. Same input
    cache, same python-worker warmup; the difference is pure partition-shape.
    """
    from pyspark.sql import functions as F

    from kgner.fixtures import build_fixtures, to_spark
    from kgner.operators.canonicalize import canonical_map
    from kgner.operators.kbbuild import alias_edges
    from kgner.operators.mentions import (
        detect_mentions_from_pages,
        prepare_alias_broadcast,
    )

    fx = build_fixtures(n_entities=150, n_pages=n_pages, giant_pages=0)
    t = to_spark(spark, fx)
    h = F.xxhash64("url", "rep")
    # cold-domain id from an INDEPENDENT hash — pmod(h, 40) conditioned on
    # pmod(h, 8) == 0 would only ever hit the 5 multiples of 8
    h2 = F.xxhash64("url", "rep", F.lit(1))
    domain = F.when(
        F.pmod(h, F.lit(8)) != 0, F.lit("hot.example")  # 87.5% of rows
    ).otherwise(F.concat(F.lit("site"), F.pmod(h2, F.lit(40)).cast("string"), F.lit(".example")))
    n_parts = spark.sparkContext.defaultParallelism * 4
    pages = (
        t["pages"]
        .select("url", "lang", "html")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(inflate - 1))))
        .withColumn(
            "url",
            F.concat(F.lit("http://"), domain, F.lit("/"), F.abs(h).cast("string")),
        )
        .drop("rep")
        # domain-clustered ingest: the hot domain lands in ONE partition
        .repartition(n_parts, F.parse_url(F.col("url"), F.lit("HOST")))
        .cache()
    )
    pages.count()
    canon = canonical_map(
        alias_edges(t["kb_pages"], t["redirects"]), t["kb_pages"].select("title")
    )
    b_alias = prepare_alias_broadcast(spark, canon)

    def job(src):
        return detect_mentions_from_pages(spark, src, alias_broadcast=b_alias)

    # warm python workers at full width (fork+imports are once-per-executor
    # costs on a real cluster, not per-job)
    job(pages.sample(0.02, seed=1).repartition(n_parts)).count()

    out: dict = {}
    dom = F.parse_url(F.col("url"), F.lit("HOST"))
    salt = (F.rand(seed=42) * 32).cast("int")
    variants = {
        "unsalted_sec": lambda: pages,
        "salted_sec": lambda: pages.repartition(n_parts, F.xxhash64(dom), salt),
    }
    n = 0
    # two alternating passes per variant, min of each: the ratio compares
    # partition SHAPES, so each side gets its noise floor rather than one
    # cold sample steering the speedup
    for _ in range(2):
        for label, mk in variants.items():
            t0 = time.monotonic()
            n = job(mk()).count()
            sec = round(time.monotonic() - t0, 3)
            out[label] = min(out.get(label, sec), sec)
    pages.unpersist()
    out["n_mentions"] = n
    out["speedup"] = round(out["unsalted_sec"] / out["salted_sec"], 2)
    return out


def run_contextual_pipeline(spark, sf_dir: str) -> float:
    """assemble_context -> tag augmented stream -> strip_context_tags ->
    ensemble_votes, end-to-end (the contextual_spans contract query) — the
    round-3 dataflow edge gets its own throughput number."""
    from kgner.queries import q_contextual_spans

    times = []
    for _ in range(3):
        _clear_persisted(spark)
        t0 = time.monotonic()
        _materialize(q_contextual_spans(spark, sf_dir))
        times.append(time.monotonic() - t0)
    return round(min(times), 3)


def one_session(master: str, shuffle_partitions: int, sf_dir: str, kg: bool):
    from kgner.session import get_spark

    spark = get_spark("kgner-bench", master=master, shuffle_partitions=shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    queries, variants, contract, hits_pair, samples = run_queries(spark, sf_dir)
    total = round(sum(queries.values()), 3)  # sum of reported per-query times
    kg_sec = kg_triples = skew = ctx_sec = None
    if kg:
        kg_sec, kg_triples = run_kg_pipeline(spark)
        ctx_sec = run_contextual_pipeline(spark, sf_dir)
        skew = run_skew_workload(spark)
    spark.stop()
    return (total, queries, variants, contract, hits_pair, samples,
            kg_sec, kg_triples, ctx_sec, skew)


def scale_run(master: str, parts: int) -> None:
    """Subprocess entry for one pinned scaling measurement. Also measures
    the host's per-core clock at this pin width (calibrate_core_clock) so
    the aggregator can separate job scaling from hypervisor clock loss."""
    # calibrate BEFORE the JVM exists — nothing else competing for the pins
    conc = len(os.sched_getaffinity(0))
    calib = calibrate_core_clock(conc)

    from kgner.session import get_spark

    spark = get_spark("kgner-scale", master=master, shuffle_partitions=parts)
    spark.sparkContext.setLogLevel("ERROR")
    sec, n = run_scaling_workload(spark)
    spark.stop()
    print(json.dumps({"sec": round(sec, 3), "mentions": n,
                      "mentions_per_sec": round(n / sec, 1),
                      "cores": conc, "calib_core_sec": round(calib, 3)}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--scale-run":
        if len(sys.argv) < 4:
            print("usage: bench.py --scale-run <master> <shuffle_partitions>",
                  file=sys.stderr)
            sys.exit(2)
        scale_run(sys.argv[2], int(sys.argv[3]))
        return
    # driver JVM memory is fixed at first launch in this process — size it
    # for 32 concurrent task threads + Arrow buffers up front
    os.environ.setdefault("KGNER_DRIVER_MEM", "48g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    if os.environ.get("KGNER_SCALING_ONLY") == "1":
        # scaling section alone: skips the headline so the measurement
        # starts in whatever host window exists NOW instead of after ~5 min
        # of saturating Spark work — useful for catching calibration-quiet
        # windows; the shipped aggregation is identical to the full run's
        result: dict = {"metric": "scaling_only", "sf": float(sf)}
        _append_scaling(result)
        result["value"] = result["scaling"]["efficiency_raw"]
        result["unit"] = "efficiency"
        _print_full_then_compact(result)
        return

    (total, queries, variants, contract, hits_pair, samples,
     kg_sec, kg_triples, ctx_sec, skew) = one_session(
        f"local[{cpus}]", 32, sf_dir, kg=True
    )
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "query_variants": variants,
        "contract_variants_sec": contract,
        "bm25_operator_pair_sec": hits_pair,
        "query_samples_sec": samples,
        "sf": float(sf),
        "kg_pipeline_sec": round(kg_sec, 3),
        "kg_triples": kg_triples,
        "triples_per_sec": round(kg_triples / kg_sec, 1),
        "contextual_pipeline_sec": ctx_sec,
        "skew_salting": skew,
    }

    if os.environ.get("KGNER_SCALING") == "1":
        _append_scaling(result)

    _print_full_then_compact(result)


def _print_full_then_compact(result: dict) -> None:
    """Two JSON lines: the full diagnostic record first, then a COMPACT
    summary LAST. The driver tail-captures stdout and parses the final JSON
    line; round 4's single line outgrew that window once query_samples_sec
    landed (BENCH_r04.json recorded "parsed": null), so the last line is now
    guaranteed small: headline total + per-query medians + pipeline tps +
    gate numbers only. Full diagnostics (raw samples, variants, per-level
    scaling runs) stay on the first line for humans."""
    full = dict(result)
    full["metric"] = str(result.get("metric")) + "_full_diagnostics"
    print(json.dumps(full))
    compact = {
        "metric": result.get("metric"),
        "value": result.get("value"),
        "unit": result.get("unit"),
        "queries": result.get("queries"),
        "sf": result.get("sf"),
    }
    for k in ("kg_pipeline_sec", "triples_per_sec", "contextual_pipeline_sec"):
        if k in result:
            compact[k] = result[k]
    skew = result.get("skew_salting") or {}
    if "speedup" in skew:
        compact["skew_salting_speedup"] = skew["speedup"]
    sc = result.get("scaling") or {}
    for k in ("efficiency_raw", "efficiency_clock_adjusted"):
        if k in sc:
            compact["scaling_" + k] = sc[k]
    print(json.dumps(compact))


def _append_scaling(result: dict) -> None:
    # N-vs-4N stand-in: each level runs in its own subprocess PINNED to
    # a CPU set with taskset, so Python UDF workers can't silently use
    # more cores than the "cluster size" grants (local[8] with unpinned
    # workers actually consumes ~32 cores through the chained UDF
    # pipeline — pinning makes the 8-core baseline honest).
    import subprocess

    # N=4 vs 4N=16 cores: 16 of the machine's 32 leaves OS/daemon headroom
    # so the measurement isn't polluted by the host's own turbo/steal
    # behavior at full saturation (raw-python calibration shows ~25%
    # per-core clock loss at 32-busy — a host artifact, not a Spark one).
    # Interleave the levels over 3 rounds (host noise drifts over
    # minutes; interleaving puts both levels under the same conditions),
    # then take per-level medians.
    levels = (("n4", "0-3", "local[4]", 8), ("n16", "0-15", "local[16]", 32))
    samples: dict[str, list[dict]] = {"n4": [], "n16": []}
    for _ in range(3):
        for label, cores, master, parts in levels:
            cmd = [
                "taskset", "-c", cores, sys.executable,
                os.path.abspath(__file__), "--scale-run", master, str(parts),
            ]
            out = subprocess.run(
                cmd, capture_output=True, text=True, timeout=900,
                env={**os.environ, "KGNER_DRIVER_MEM": "24g"},
            )
            samples[label].append(json.loads(out.stdout.strip().splitlines()[-1]))
    res = {}
    for label in samples:
        runs = sorted(samples[label], key=lambda r: r["sec"])
        res[label] = {**runs[len(runs) // 2], "all_sec": [r["sec"] for r in samples[label]]}
    # efficiency and clock factor are paired PER INTERLEAVED ROUND (the
    # two levels of a round ran back-to-back under the same host
    # conditions) and the medians taken over pairs — pairing the
    # independently-chosen median runs could divide calibrations from
    # different host windows and mis-state the 16-vs-4 saturation
    # effect. A real 4N cluster runs 4N machines at the SAME clock, so
    # the adjusted number scales each pair by its own measured per-core
    # slowdown ratio.
    pairs = []
    for a, b in zip(samples["n4"], samples["n16"]):
        eff = (a["sec"] / b["sec"]) / 4
        clock = b["calib_core_sec"] / a["calib_core_sec"]
        pairs.append(
            {
                "eff_raw": round(eff, 3),
                "host_clock_factor_16v4": round(clock, 3),
                "eff_clock_adjusted": round(eff * clock, 3),
            }
        )
    med = lambda k: sorted(p[k] for p in pairs)[len(pairs) // 2]  # noqa: E731
    result["scaling"] = {
        **res,
        "pairs": pairs,
        "efficiency_raw": med("eff_raw"),
        # UPPER-BOUND estimate: the clock factor comes from a pure-Python
        # busy loop, but the Spark job mixes JVM/shuffle/IO that may not
        # degrade with core clock 1:1 — quote eff_raw as the measured
        # floor and eff_clock_adjusted as the same-clock-cluster bound.
        "efficiency_clock_adjusted": med("eff_clock_adjusted"),
        "adjusted_is_upper_bound": True,
    }


if __name__ == "__main__":
    main()
