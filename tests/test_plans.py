"""Physical-plan regression guards: the scale properties we rely on must be
visible in the plan — filters pushed to the scan, dimensions broadcast, no
sort-merge joins in the retrieval path, no Python in JVM-only operators."""

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark):
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection pruned: html-free read schema, only the used columns
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:200]


def test_dimension_joins_broadcast(spark):
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["revenue_by_region"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_bm25_no_sort_merge_join(spark):
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["bm25_retrieval"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_bm25_lang_scoped_same_plan_shape(spark):
    """Per-language scoping only ADDS a join key: still no sort-merge join,
    still broadcast df/stats, no Python — the per-lang statistics joins
    (one row per language) must broadcast like the global ones."""
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["bm25_retrieval_lang"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Python" not in plan


def test_jvm_only_operators_have_no_python(spark):
    from kgner.queries import QUERIES

    for name in ["quality", "lang_id", "token_counts", "sessionize", "cosine_topk"]:
        plan = _plan(QUERIES[name](spark, SF))
        assert "Python" not in plan, name


def test_mentions_stage_is_map_only(spark, tables):
    """detect_mentions must add no shuffle beyond its input."""
    from kgner.functions.text import pages_to_sentences
    from kgner.operators.mentions import detect_mentions

    sents = pages_to_sentences(tables["pages"].select("url", "lang", "html"))
    aliases = spark.createDataFrame(
        [("zq", "ZQ")], "alias_norm string, canonical_id string"
    )
    plan = _plan(detect_mentions(spark, sents, aliases))
    assert "Exchange" not in plan  # map-only: scan -> UDFs -> scan-out


def test_ivf_probe_join_broadcasts(spark):
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["ivf_ann"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_mentions_join_candidates_single_scan(spark):
    """mentions_by_join enumerates ALL n-gram lengths inside one nested
    higher-order expression — exactly ONE scan of the sentences source, not
    a unionByName of one scan per length."""
    from pyspark.sql import functions as F

    from kgner.operators.mentions import mentions_by_join

    d = spark.read.parquet(f"{SF}/documents.parquet")
    sents = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.lit(0).cast("int").alias("sent_id"),
        F.split(F.lower("text"), " ").alias("tokens"),
    )
    aliases = spark.createDataFrame(
        [("spark", "SPARK"), ("customer table", "CT")],
        "alias_norm string, canonical_id string",
    )
    plan = _plan(mentions_by_join(sents, aliases, max_ngram=4))
    assert plan.count("documents.parquet") == 1


def test_strip_and_remove_x_are_jvm_only(spark):
    """strip_context_tags and remove_x_tokens are pure array expressions —
    no Python eval nodes, no exchange (map-only at any scale)."""
    from kgner.operators.ensemble import remove_x_tokens, strip_context_tags

    df = spark.createDataFrame(
        [(["a", "<EOS>", "b"], ["O", "O", "B-ENT"], ["O", "S-X", "S-X"])],
        "tokens array<string>, tags array<string>, gold_tags array<string>",
    )
    for out in (
        strip_context_tags(df, gold_col="gold_tags"),
        remove_x_tokens(df, gold_col="gold_tags", cols=("tokens", "tags")),
    ):
        plan = _plan(out)
        assert "Python" not in plan
        assert "Exchange" not in plan


def test_minhash_contract_is_jvm_only(spark):
    """The md5-seeded affine minhash family must stay whole-stage-codegen
    long arithmetic — no Python eval nodes anywhere in the contract query."""
    from kgner.queries import QUERIES

    plan = _plan(QUERIES["minhash_lsh"](spark, SF))
    assert "Python" not in plan


def _lambda_bodies(plan: str):
    """Each `lambdafunction(...)` body of a plan string, parens balanced."""
    start = plan.find("lambdafunction(")
    while start != -1:
        i = start + len("lambdafunction(")
        depth = 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        yield plan[start:i]
        start = plan.find("lambdafunction(", start + 1)


@pytest.mark.parametrize(
    "name",
    [
        "shingle_arrays",
        "fingerprint",
        "bioes_tags",
        "ensemble_spans",
        "entity_window_queries",
        "mention_cooccur",
    ],
)
def test_tokenize_once_per_doc(spark, name):
    """Token arrays read inside a lambda must be a bound column: a split()
    inside a lambda body re-tokenizes the whole doc once per element —
    O(L^2) per doc. Checked on the optimized plan, so it also catches the
    optimizer inlining the column back into the lambda."""
    from kgner.operators.dedup import shingle_arrays
    from kgner.operators.textquality import fingerprint
    from kgner.queries import QUERIES

    operators = {"shingle_arrays": shingle_arrays, "fingerprint": fingerprint}
    if name in operators:
        df = operators[name](spark.read.parquet(f"{SF}/documents.parquet"))
    else:
        df = QUERIES[name](spark, SF)
    bodies = list(_lambda_bodies(df._jdf.queryExecution().optimizedPlan().toString()))
    assert bodies, "expected higher-order functions in the plan"
    assert not [b for b in bodies if "split(" in b]
