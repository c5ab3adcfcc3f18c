"""Span decoding + majority-vote ensembling as DataFrame ops.

Reference analogues (/root/reference):
- BIOES span decode       flair/data.py:455-532, ensemble_prediction.py:45-117
- vote count              ensemble_prediction.py:383-395 -> groupBy().count()
- greedy non-overlap pick ensemble_prediction.py:399-416 -> per-sentence
  candidate arrays through a batched scalar Arrow UDF (sequential within a
  sentence, thousands of sentences per batch — tiny per-sentence groups
  make a grouped-map pay a pandas DataFrame per group, ~10x slower)

Scale notes: one map-side-combinable shuffle to count votes by
(url, sent_id, span), one shuffle to collect candidates per sentence.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from kgner.spanops import decode_spans, majority_vote

_SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("label", StringType()),
        ]
    )
)


@pandas_udf(_SPAN_TYPE)
def decode_spans_udf(tags: pd.Series) -> pd.Series:
    """array<string> BIO/BIOES tags -> array<struct<start,end,label>>."""
    return pd.Series(
        [
            [
                {"start": s, "end": e, "label": lbl}
                for s, e, lbl in decode_spans(list(t) if t is not None else [])
            ]
            for t in tags
        ]
    )


@pandas_udf(ArrayType(StringType()))
def iobes_udf(tags: pd.Series) -> pd.Series:
    """IOB2 -> IOBES conversion (flair/data.py:1144-1164), vectorized."""
    from kgner.spanops import iob_to_iobes

    return pd.Series([iob_to_iobes(list(t) if t is not None else []) for t in tags])


def decode_predictions(predictions: DataFrame) -> DataFrame:
    """model_predictions(model_id, url, sent_id, tags) -> one row per span.

    Decode stays on the Arrow-batched UDF DELIBERATELY: a JVM aggregate()
    fold replaying the decode state machine was built and measured in r6
    at 2.8x SLOWER (2.1 s vs 0.75 s over sf1.0 gaz tags) — interpreted
    higher-order expressions with per-element struct construction lose to
    the vectorized Python loop here, unlike the run-decode special case
    in q_entity_spans where the span structure is computable with array
    primitives."""
    return predictions.select(
        "model_id",
        "url",
        "sent_id",
        F.explode(decode_spans_udf(F.col("tags"))).alias("span"),
    ).select(
        "model_id",
        "url",
        "sent_id",
        F.col("span.start").alias("start"),
        F.col("span.end").alias("end"),
        F.col("span.label").alias("label"),
    )


ENSEMBLED_SCHEMA = "url string, sent_id int, start int, end int, label string"


@pandas_udf(_SPAN_TYPE)
def _pick_spans_udf(
    cands: pd.Series, n_models: pd.Series, threshold: pd.Series
) -> pd.Series:
    """Greedy majority pick per sentence, batched: each row carries ONE
    sentence's full candidate list (array<struct<start,end,label,votes>>), so
    an Arrow batch processes thousands of sentences in one call — unlike a
    grouped-map, which pays a pandas DataFrame per (url, sent_id) group."""
    out = []
    for c, nm, th in zip(cands, n_models, threshold):
        sv = {
            (int(d["start"]), int(d["end"]), str(d["label"])): int(d["votes"])
            for d in (c if c is not None else [])
        }
        out.append(
            [
                {"start": s, "end": e, "label": lbl}
                for s, e, lbl in majority_vote(sv, int(nm), float(th))
            ]
        )
    return pd.Series(out)


def ensemble_votes(
    predictions: DataFrame, threshold_ratio: float = 0.5
) -> DataFrame:
    """predictions -> ensembled spans via majority vote.

    n_models is computed per sentence (countDistinct model_id) so partially-
    covered sentences use the correct denominator, as the reference's
    per-file accumulation does.

    Shape: vote counting is a map-side-combinable groupBy on the span key;
    candidates then collect to ONE array row per sentence and the
    sequential-within-a-sentence greedy pick runs as a scalar Arrow UDF
    (vectorized across sentences per batch — no per-group pandas overhead).
    """
    spans = decode_predictions(predictions)
    votes = spans.groupBy("url", "sent_id", "start", "end", "label").agg(
        F.count(F.lit(1)).cast("int").alias("votes")
    )
    n_models = predictions.groupBy("url", "sent_id").agg(
        F.countDistinct("model_id").cast("int").alias("n_models")
    )
    per_sent = (
        votes.groupBy("url", "sent_id")
        .agg(F.collect_list(F.struct("start", "end", "label", "votes")).alias("cands"))
        .join(n_models, ["url", "sent_id"])
    )
    picked = per_sent.select(
        "url",
        "sent_id",
        F.explode(
            _pick_spans_udf("cands", "n_models", F.lit(threshold_ratio))
        ).alias("s"),
    )
    # enforce the ENSEMBLED_SCHEMA contract the grouped-map used to apply
    return picked.select(
        F.col("url").cast("string").alias("url"),
        F.col("sent_id").cast("int").alias("sent_id"),
        F.col("s.start").cast("int").alias("start"),
        F.col("s.end").cast("int").alias("end"),
        F.col("s.label").cast("string").alias("label"),
    )


def strip_context_tags(
    predictions: DataFrame,
    tokens_col: str | None = "tokens",
    strip_cols: tuple[str, ...] = ("tags",),
    gold_col: str | None = None,
    eos: str = "<EOS>",
    filler_tag: str = "S-X",
) -> DataFrame:
    """Truncate each tagged token stream at the FIRST ``<EOS>`` token or
    gold ``S-X`` filler tag — the reference's context strip before
    ensembling (ensemble_prediction.py:356-361: ``if token == '<EOS>' or
    gold_anno == 'S-X': break``). Augmented sentences carry the retrieved
    context after the original region (P-15 joins with `` <EOS> ``;
    kb/context_process.py); the model tags the WHOLE stream, so any span
    the model hallucinates inside the context region must be cut off
    before voting/scoring or it surfaces as a phantom prediction.

    `tokens_col` and every column in `strip_cols` (plus `gold_col` when
    given) are replaced by their pre-cut prefixes; all must be equal-length
    arrays per row. `tokens_col=None` strips on the gold filler alone (the
    reference's S-X condition fires even when no token stream is attached);
    at least one of `tokens_col` / `gold_col` must be given. Pure JVM
    (array_position + slice) — no Python, map-only, scale-free.
    """
    if tokens_col is None and gold_col is None:
        raise ValueError("strip_context_tags needs tokens_col or gold_col")
    cut = None
    if tokens_col is not None:
        cut = F.nullif(F.array_position(F.col(tokens_col), eos), F.lit(0))
    if gold_col is not None:
        sx_pos = F.nullif(F.array_position(F.col(gold_col), filler_tag), F.lit(0))
        # least() skips nulls: min of the found positions
        cut = sx_pos if cut is None else F.least(cut, sx_pos)
    length_ref = tokens_col if tokens_col is not None else gold_col
    keep = F.coalesce(cut, F.size(F.col(length_ref)) + 1) - 1
    out = predictions.withColumn("__keep", keep.cast("int"))
    cols = ([tokens_col] if tokens_col else []) + list(strip_cols) + (
        [gold_col] if gold_col else []
    )
    for c in cols:
        out = out.withColumn(c, F.slice(F.col(c), 1, F.col("__keep")))
    return out.drop("__keep")


def remove_x_tokens(
    df: DataFrame,
    gold_col: str = "gold_tags",
    cols: tuple[str, ...] = ("tokens", "tags"),
    filler_type: str = "X",
) -> DataFrame:
    """conlleval ``remove_x`` (conlleval_perl.py:244-246): drop every token
    position whose GOLD tag has filler type X (``S-X``/``B-X``/...) from the
    gold stream AND every parallel stream, renumbering the remainder — the
    exact line-skip semantics of the perl script (``if correctType == 'X':
    continue``). Positions are filtered BEFORE span decoding, so spans
    bordering a removed region merge/shift exactly as conlleval sees them.

    Pure JVM: one index filter over the gold array, then a gather per
    column."""
    is_x = lambda t: t.contains("-") & (  # noqa: E731
        F.substring_index(t, "-", -1) == filler_type
    )
    # explicit empty-gold guard: sequence(0, -1) would yield the descending
    # [0, -1] and only drop both via F.get's out-of-range NULLs — correct,
    # but accidental. An empty gold array keeps index [] outright; a NULL
    # gold propagates NULL (no otherwise → when chain yields null).
    keep_idx = F.when(
        F.size(F.col(gold_col)) > 0,
        F.filter(
            F.sequence(F.lit(0), F.size(F.col(gold_col)) - 1),
            lambda i: ~is_x(F.get(F.col(gold_col), i)),
        ),
    ).when(F.size(F.col(gold_col)) == 0, F.array().cast("array<int>"))
    out = df.withColumn("__keep_idx", keep_idx)
    for c in (gold_col, *cols):
        out = out.withColumn(
            c, F.transform(F.col("__keep_idx"), lambda i: F.get(F.col(c), i))
        )
    return out.drop("__keep_idx")


def span_f1(
    gold: DataFrame,
    pred: DataFrame,
    remove_x: bool = False,
    mention_only: bool = False,
) -> DataFrame:
    """Chunk-level P/R/F1, one row per label (no micro total row: sum
    tp/fp/fn over the rows for it), conlleval semantics
    (/root/reference/conlleval_perl.py:207-350) as a pure DataFrame agg.

    remove_x=True excludes filler type X from scoring on BOTH sides
    (conlleval_perl.py:244-246 skips gold-X token lines; at span level that
    drops X-labeled spans from the gold and prediction sets — for the exact
    token-level renumbering semantics apply `remove_x_tokens` to the tag
    streams BEFORE decoding instead).

    mention_only=True scores type-agnostically: every label collapses to
    'ENT' before matching, the reference's mention mode / label2mention
    (conlleval_perl.py:247-251; ensemble_prediction.py:330-338
    ``label2mention``). Applied AFTER remove_x, matching the perl script's
    line order — with both flags on, X spans are removed first, the rest
    collapse. Boundary-only matches then count as correct even when the
    types disagree."""
    key = ["url", "sent_id", "start", "end", "label"]
    g = gold.select(*key).distinct()
    p = pred.select(*key).distinct()
    if remove_x:
        g = g.filter(F.col("label") != "X")
        p = p.filter(F.col("label") != "X")
    if mention_only:
        g = g.withColumn("label", F.lit("ENT")).distinct()
        p = p.withColumn("label", F.lit("ENT")).distinct()
    tp = g.join(p, key, "inner").groupBy("label").agg(F.count(F.lit(1)).alias("tp"))
    fp = p.join(g, key, "left_anti").groupBy("label").agg(
        F.count(F.lit(1)).alias("fp")
    )
    fn = g.join(p, key, "left_anti").groupBy("label").agg(
        F.count(F.lit(1)).alias("fn")
    )
    out = (
        tp.join(fp, "label", "outer")
        .join(fn, "label", "outer")
        .fillna(0, subset=["tp", "fp", "fn"])
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return out.select(
        "label",
        "tp",
        "fp",
        "fn",
        prec.alias("precision"),
        rec.alias("recall"),
        (2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12))).alias("f1"),
    )
