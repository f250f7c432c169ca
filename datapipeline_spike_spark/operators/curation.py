"""End-to-end corpus curation assembly (SURVEY.md §2.11 capstone).

One call chaining the engine's pipeline stages in the order a real
pretraining data pipeline runs them — the "crawl in, training shards
out" product surface, built entirely from operators that are each
individually oracle- or test-verified:

    HTML -> text (optional)            operators/html.html_to_text
    -> paragraph boilerplate dedup     operators/dedup.paragraph_dedup
    -> quality score + floor           functions/text.quality_score
    -> near-dup dedup, BEST-copy keep  operators/dedup.dedup_corpus
                                       + select_canonical
    -> PII redaction                   operators/redaction.redact
    -> token-budget selection (opt)    operators/sampling.budget_select
    -> deterministic shard+order (opt) operators/sampling.deterministic_shuffle

Stage-order rationale (each is a real pipeline constraint):

- paragraph dedup FIRST: shared boilerplate both inflates quality
  scores and floods near-dup buckets; removing it up front is what
  keeps the LSH stage's bucket distribution sane at corpus scale.
- quality BEFORE near-dup dedup: the scores feed the keep-best-copy
  survivor policy, and the floor shrinks the LSH input.
- redaction AFTER dedup: redaction rewrites text, so running it
  earlier would perturb fingerprints and split identical docs into
  different dedup groups.
- budget/shuffle LAST: selection must see the final deduped corpus,
  and shard assignment is a property of exactly the surviving rows.

Everything except ``dedup_corpus`` is map-only or bounded-aggregate;
the near-dup stage carries the pipeline's only corpus-scale shuffles
and is the engine's guarded LSH path (hot-bucket chunked joins,
size-gated components). Determinism end to end: every stage keys off
content hashes, so reruns and backfills produce identical corpora.

Cache lifecycle: the scoring frame is persisted once (three consumers
— dedup input, survivor scoring, final join — would each re-run the
paragraph-dedup + scoring subtree), and the paragraph, survivor-id and
redacted frames and ``dedup_corpus``'s barriers pin storage too.
Callers that collect/write the result and want the memory back wrap
the call in ``cache.scoped_cache``: every frame pinned inside the block
is released at exit, and frames pinned before it keep their cache.
The bare call keeps the pins alive for the returned lazy plan until
the session drain (``cache.unpersist_all``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipeline_spike_spark.functions.text import (
    quality_score_from_tokens,
    tokens,
)
from datapipeline_spike_spark.operators.dedup import (
    dedup_corpus,
    paragraph_dedup,
    select_canonical,
)
from datapipeline_spike_spark.operators.html import html_to_text
from datapipeline_spike_spark.operators.redaction import redact
from datapipeline_spike_spark.operators.sampling import (
    budget_select,
    deterministic_shuffle,
)

__all__ = ["curate_corpus", "curation_profile"]


def _curation_stages(
    df: DataFrame,
    *,
    html_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    jaccard_threshold: float = 0.8,
    token_budget: float | None = None,
    n_shards: int | None = None,
    seed: int = 0,
) -> list[tuple[str, DataFrame]]:
    """The shared stage chain: an ordered list of (stage_name, frame)
    pairs whose LAST element is the curated result. ``curate_corpus``
    returns that last frame; ``curation_profile`` aggregates every
    stage. Stage names are sortable so the profile reads as a funnel."""
    stages: list[tuple[str, DataFrame]] = []
    if html_col is not None:
        df = df.select(F.col(id_col), html_to_text(html_col).alias(text_col))
    else:
        df = df.select(F.col(id_col), F.col(text_col))
    stages.append(("00_input", df))

    # corpus-wide boilerplate removal at paragraph grain; empty docs
    # (all-boilerplate or empty extraction) drop here
    cleaned = paragraph_dedup(df, text_col=text_col, id_col=id_col, sep="\n")
    cleaned = cleaned.filter(F.length(F.col(text_col)) > 0).select(
        id_col, text_col
    )

    t = tokens(text_col)
    # score BEFORE the floor and persist the pre-floor frame (r19):
    # the stage-10 frame and the post-floor scored frame are now both
    # views of ONE persisted computation, so the paragraph-dedup +
    # tokenize + scoring subtree runs once instead of once per stage
    # consumer (the profile's stage-10 aggregate used to re-run the
    # whole paragraph pipeline). The extra columns on the stage-10
    # frame are harmless: the profile aggregates (n_docs, n_tokens)
    # and curate_corpus only consumes the LAST stage. Lifecycle: the
    # caller's ``scoped_cache`` releases it (see module docstring).
    prefloor = cleaned.select(
        F.col(id_col),
        F.col(text_col),
        F.round(quality_score_from_tokens(t, text_col), 6).alias("quality"),
        F.size(t).alias("n_tokens"),
    ).persist()
    stages.append(("10_paragraph_dedup", prefloor))

    scored = prefloor.filter(F.col("quality") >= min_quality)
    stages.append(("20_quality_floor", scored))

    # near-dup collapse keeping the highest-quality copy per cluster
    # (label != survivor: crawl order is not quality order). The
    # assignment covers every scored doc, so the inner joins are total.
    assign = dedup_corpus(
        scored, text_col=text_col, id_col=id_col,
        jaccard_threshold=jaccard_threshold,
    )
    keep = select_canonical(assign, scored, score_col="quality", id_col=id_col)
    # the survivor id set is consumed by every downstream stage frame
    # (the profile's stage-30 aggregate AND the redaction branch) —
    # pin the tiny id frame once so the select_canonical joins don't
    # replay per consumer. persist() rather than an eager
    # localCheckpoint: it shares one materialization across consumers
    # the same way, stays recomputable, and its plan is shallow anyway
    # (dedup_corpus's internals are barrier-truncated), so the
    # checkpoint's plan-size argument doesn't apply.
    keep_ids = (
        keep.filter(F.col(id_col) == F.col("keep_id"))
        .select(id_col)
        .persist()
    )
    survivors = scored.join(keep_ids, id_col)
    stages.append(("30_neardup_best_copy", survivors))

    # the redaction regex chain is the most expensive map stage in the
    # tail, and the 40-frame has up to three consumers (the profile's
    # stage-40 aggregate, the budget selection, the shard split) —
    # persist so redact runs once per document, not once per consumer
    # (r19; same lifecycle as the pre-floor frame above)
    out = survivors.withColumn(text_col, redact(text_col)).persist()
    stages.append(("40_redacted", out))

    if token_budget is not None:
        # the budget histogram + threshold pipeline would re-run for
        # each consumer (the profile's stage-50 aggregate and the shard
        # stage); the selected frame is budget-bounded — persist (r19)
        out = budget_select(out, "quality", "n_tokens", token_budget, id_col)
        if n_shards is not None:
            out = out.persist()
        stages.append(("50_budget", out))
    if n_shards is not None:
        out = deterministic_shuffle(out, id_col, n_shards, seed=seed)
        stages.append(("60_shards", out))
    return stages


def curate_corpus(
    df: DataFrame,
    *,
    html_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    jaccard_threshold: float = 0.8,
    token_budget: float | None = None,
    n_shards: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Run the full curation pipeline; see module docstring for the
    stage chain and ordering rationale.

    Returns (id_col, text_col, quality, n_tokens [, shard, shuffle_u])
    — one row per surviving document, redacted text, deterministic
    across reruns and input layouts. ``html_col`` switches the front
    door to HTML extraction; ``token_budget``/``n_shards`` enable the
    optional tail stages. Wrap the call in ``cache.scoped_cache`` and
    consume the result inside the block to release its pinned frames
    without touching the rest of the session cache."""
    return _curation_stages(
        df,
        html_col=html_col,
        text_col=text_col,
        id_col=id_col,
        min_quality=min_quality,
        jaccard_threshold=jaccard_threshold,
        token_budget=token_budget,
        n_shards=n_shards,
        seed=seed,
    )[-1][1]


def curation_profile(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """The curation funnel as data: one row per pipeline stage with
    surviving (n_docs, n_tokens), plus one row per training shard when
    sharding is enabled ('60_shard_<k>' — the shard histogram). This is
    the acceptance report a curation run publishes next to its shards:
    where documents and tokens were spent, stage by stage.

    n_tokens is the engine-tokenizer count of each stage's CURRENT text
    (recomputed after paragraph-dedup and redaction rewrite it), so the
    token funnel reflects what downstream actually trains on. Every
    per-stage aggregate is a count/sum over the stage frame — the
    profile adds one bounded aggregation per stage on top of the
    pipeline's own cost, nothing corpus-scale."""
    stages = _curation_stages(df, text_col=text_col, id_col=id_col, **kwargs)
    rows = []
    for name, frame in stages:
        if name == "60_shards":
            rows.append(
                frame.groupBy("shard")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                    F.sum(F.size(tokens(text_col)).cast("bigint")).alias(
                        "n_tokens"
                    ),
                )
                .select(
                    F.concat(F.lit("60_shard_"), F.col("shard").cast("string"))
                    .alias("stage"),
                    "n_docs",
                    "n_tokens",
                )
            )
            continue
        # stages 10/20/30 carry the n_tokens column computed from the
        # SAME text the stage frame holds (paragraph-dedup output;
        # redaction only rewrites text at stage 40) — summing it is
        # bit-identical to re-tokenizing and skips a regex split per
        # row per stage (r19). Stages 00/40/50 tokenize their current
        # text: 00 has no token column, 40/50 rewrote the text.
        if name.split("_")[0] in ("10", "20", "30"):
            nt = F.col("n_tokens").cast("bigint")
        else:
            nt = F.size(tokens(text_col)).cast("bigint")
        rows.append(
            frame.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.coalesce(F.sum(nt), F.lit(0)).alias("n_tokens"),
            ).select(F.lit(name).alias("stage"), "n_docs", "n_tokens")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def curriculum_phase_plan(
    docs: DataFrame,
    n_phases: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Curriculum schedule (staged r14 wave 2, register r16): split
    each source's documents into ``n_phases`` difficulty phases and
    emit the per-(source, phase) training plan — the table a
    curriculum-learning run (Bengio 2009; applied to LM data ordering
    in e.g. Sequence-Level Curriculum / DataComp-LM ablations) feeds
    its dataloader: easy phases first, per-phase token budgets, and a
    deterministic global interleave position.

    Difficulty = mean token length of the document (6dp from an exact
    integer length sum over the house tokenizer) — the cheap lexical-
    complexity proxy that needs no model. Phase assignment = ntile
    over (difficulty asc, doc_id asc) WITHIN EACH SOURCE: the window
    partitions by source, so at 100 TB there is no global sort — each
    source's docs shuffle once to its partition (skew bounded by the
    largest single source, the same envelope every per-source operator
    in this engine documents). The fully-tie-broken ORDER BY makes
    ntile deterministic and engine-portable (Spark and DuckDB both
    give the first n % k tiles one extra row). The final interleave
    window orders the (source x phase)-grain plan — a bounded frame
    (sources x phases rows), not data-grain.

    Returns one row per (source, phase): n_docs, token_budget (exact
    long sum of doc token counts), mean_difficulty (6dp),
    schedule_pos (1-based position in the phase-major, source-minor
    global order)."""
    from pyspark.sql import Window

    from datapipeline_spike_spark.functions.text import tokens

    toks = tokens(text_col)
    scored = docs.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("_id"),
        F.size(toks).alias("_nt"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("_sumlen"),
    ).filter(F.col("_nt") > 0).select(
        "source",
        "_id",
        "_nt",
        F.round(F.col("_sumlen") * F.lit(1.0) / F.col("_nt"), 6).alias(
            "_difficulty"
        ),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("_difficulty").asc(), F.col("_id").asc()
    )
    phased = scored.withColumn("phase", F.ntile(int(n_phases)).over(w))
    plan = phased.groupBy("source", "phase").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("token_budget"),
        F.round(F.avg("_difficulty"), 6).alias("mean_difficulty"),
    )
    # the interleave window runs over the (sources x phases)-grain plan
    # frame — bounded by construction, never data-grain
    sched = Window.orderBy(F.col("phase").asc(), F.col("source").asc())
    return plan.select(
        "source",
        F.col("phase").cast("long").alias("phase"),
        "n_docs",
        "token_budget",
        "mean_difficulty",
        F.row_number().over(sched).cast("long").alias("schedule_pos"),
    )
