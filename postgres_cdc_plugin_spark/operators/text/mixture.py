"""Mixture-design families (r12 split, verbatim): temperature
(Conneau-Lample) and UniMax (Chung et al.) design -> realization ->
audit triads, the bucketed 100 TB fill variants, and admission_docs_from
(the admission input the ingest chains and ST18/ST19 share). The
namespace merge below reproduces the monolith's globals for this
segment, exactly as the single file resolved them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ...session import load

from . import base as _base

for _m in (_base,):
    globals().update(
        {k: v for k, v in vars(_m).items() if not k.startswith("__")}
    )

_MIX_TEMPERATURE = 0.3  # multilingual sampling exponent (share^alpha)


def docs_lang_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling mix (Conneau & Lample
    2019 / the mBERT-family exponent rule, public literature): resample
    languages proportional to share^alpha (alpha = _MIX_TEMPERATURE)
    so low-resource languages are upsampled without letting any single
    language dominate — the standard knob a multilingual pretraining
    run sets before tokenizer training and data packing. Per language:
    token counts, the raw token share, the temperature-adjusted target
    share, and the resulting up/down-sampling factor.

    Shares are exact int/int divisions; the pow() values go through
    the round-6 DECIMAL hop (the docs_unigram_surprisal convention —
    canonical representation on both engines, washing the final-ulp
    libm difference between Java's and DuckDB's pow).

    Scale: one token-count aggregation rolled up to the languages-sized
    relation, then a 1-row total broadcast back — O(languages) output
    at any corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    per_lang = (
        docs.select(
            "lang",
            F.size(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
                "nt"
            ),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        )
    )
    return _temperature_mix_from(per_lang)


def _temperature_mix_from(per_lang: DataFrame) -> DataFrame:
    """Temperature mix over a prepared (lang, n_docs, n_tokens)
    relation — shared VERBATIM by docs_lang_temperature_mix (which
    builds per_lang from the documents table) and the mixture
    admission kernel (which derives it from the maintained per-doc
    relation, so the streaming MixtureLedger and the batch query can
    never disagree about quotas)."""
    tot = per_lang.agg(
        F.sum("n_tokens").cast("double").alias("tot"),
    )
    shared = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("tot")).alias("share"),
        F.pow(F.col("n_tokens") / F.col("tot"), _MIX_TEMPERATURE).alias("p"),
    )
    ptot = shared.agg(F.sum("p").alias("ptot"))
    dec6 = lambda c: F.round(c, 6).cast("decimal(38,6)").cast("double")  # noqa: E731
    return shared.crossJoin(F.broadcast(ptot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "share",
        dec6(F.col("p") / F.expr("nullif(ptot, 0.0d)")).alias("temp_share"),
        # a language whose only documents are empty has share 0 — its
        # factor is undefined (NULL via nullif; a bare division crashes
        # under ANSI and yields inf in DuckDB, neither of which is a
        # sampling rate)
        dec6(
            (F.col("p") / F.expr("nullif(ptot, 0.0d)"))
            / F.expr("nullif(share, 0.0d)")
        ).alias("sample_factor"),
    )


_MIX_BUDGET_DIV = 2  # sample budget = total corpus tokens // this


def docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature mix: deterministic per-language
    token-quota selection — the step that turns
    docs_lang_temperature_mix's TARGET shares into an actual document
    subset under a token budget (half the corpus, _MIX_BUDGET_DIV).
    Each language gets quota = floor(temp_share x budget) tokens;
    within a language, documents are admitted in md5(doc_id) priority
    order (the docs_train_split hash convention — reproducible across
    engines, runs, and repartitions) until the cumulative token count
    passes the quota. Emits the per-doc admission ledger (priority,
    running total, quota, selected), so the selection is auditable
    doc by doc. Distinct from docs_stratified_sample (uniform rate,
    no quotas) and docs_weighted_sample (global top-k by weight, no
    per-group budget): this is the per-GROUP budgeted fill a mixture
    spec compiles to.

    Determinism: quotas multiply the decimal-hopped temp_share by an
    exact integer budget (identical doubles on both engines, one IEEE
    multiply + floor); cumulative sums are exact int64 over the total
    (priority, doc_id) order.

    Scale: the temperature relation is O(languages); the admission
    pass is one window per language partition — exact and simplest at
    test scale. When a single language's partition outgrows a task,
    mixture_sample_bucketed (below) is the SHIPPED 100 TB path: the
    two-pass bucketed-histogram fill over md5-prefix buckets, proven
    bit-equal to this window at both SFs and across bucket widths
    (tests/test_analytics.py::
    test_mixture_bucketed_fill_matches_exact_window).
    """
    return mixture_sample_from(
        mixture_doc_relation(load(spark, sf_dir, "documents"))
    )


def mixture_doc_relation(docs: DataFrame) -> DataFrame:
    """The per-doc admission-input relation (doc_id, lang, n_tokens,
    priority) from a (doc_id, text, lang, ...) document relation — the
    exact token count and md5 priority every admission path (exact
    window, bucketed fill, streaming MixtureLedger) shares VERBATIM."""
    return docs.select(
        "doc_id",
        "lang",
        F.size(F.expr("filter(split(text, ' '), x -> x != '')"))
        .cast("bigint")
        .alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("priority"),
    )


def _mixture_quota_from(d: DataFrame) -> DataFrame:
    """Per-language token quotas derived from the per-doc admission
    relation: the temperature mix over per-language rollups of d, and
    quota = floor(temp_share x budget) with budget = total tokens //
    _MIX_BUDGET_DIV."""
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    mix = _temperature_mix_from(per_lang).select(
        "lang", "n_tokens", "temp_share"
    )
    # budget as a whole-relation window over the LANGUAGES-SIZED mix
    # (bounded by #languages at any corpus size) — a separate
    # aggregate-and-crossJoin branch would duplicate the whole
    # temperature pipeline in the plan (measured: 14 exchanges / 7
    # nested-loop joins vs 8 / 3 this way)
    b = F.floor(
        F.sum("n_tokens").over(Window.partitionBy()) / F.lit(_MIX_BUDGET_DIV)
    ).cast("bigint")
    return mix.select(
        "lang",
        F.floor(F.col("temp_share") * b.cast("double"))
        .cast("bigint")
        .alias("quota_tokens"),
    )


def mixture_sample_from(d: DataFrame) -> DataFrame:
    """The admission ledger over a prepared per-doc relation — the
    kernel docs_mixture_sample wraps and the streaming MixtureLedger
    runs VERBATIM at read time (the ST17 global-decision pattern: a
    late-arriving document moves every language's share, temperature
    and quota, so no per-batch transform can emit final admission
    verdicts)."""
    return _admission_from(d, _mixture_quota_from(d))


def _admission_from(d: DataFrame, quota: DataFrame) -> DataFrame:
    """The quota-parameterized admission window — extracted (r10) so
    the UniMax realization (docs_unimax_sample) runs the IDENTICAL
    ledger algebra under its own quota relation; the extraction leaves
    mixture_sample_from's logical plan byte-identical."""
    w = (
        Window.partitionBy("lang")
        .orderBy("priority", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .join(quota, "lang")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "priority",
            "cum_tokens",
            "quota_tokens",
            (F.col("cum_tokens") <= F.col("quota_tokens")).alias("selected"),
        )
    )


_MIX_BUCKET_CHARS = 1  # md5-priority hex-prefix bucket width (16/char)


def mixture_sample_bucketed(
    spark: SparkSession, sf_dir: str, prefix_chars: int = _MIX_BUCKET_CHARS
) -> DataFrame:
    """The 100 TB admission path for docs_mixture_sample (r8 verdict
    ask #2): the two-pass bucketed-histogram fill, RESULT-INVARIANT to
    the exact per-language window (pinned bit-equal at both SFs and
    across bucket widths in tests/test_analytics.py, the
    events_interval_join bin-width-invariance convention).

    The exact path sorts each language in ONE window partition — at
    100 TB a dominant language's partition outgrows a task. This path
    replaces the language-sized sort with:
      pass 1 (histogram): per (lang, md5-priority hex-prefix bucket)
        token totals — a languages x 16^prefix_chars relation, tiny at
        any corpus size — cumulated in bucket order to each bucket's
        admission offset (which also locates the cutoff bucket: the
        one whose offset straddles the quota; buckets before it admit
        wholesale, after it reject wholesale);
      pass 2 (intra-bucket fill): the (priority, doc_id) window runs
        per (lang, bucket) — partitions 16^prefix_chars times smaller,
        bounded by widening the prefix — and each doc's global
        cumulative is offset + intra-bucket cumulative.
    Invariance argument: same-length hex priorities make bucket-prefix
    order a coarsening of the (priority, doc_id) total order, so
    offset + intra-cum is exactly the global cumulative sum (int64
    addition is associative), and every column of the ledger — not
    just the selected flag — is identical.
    """
    d = mixture_doc_relation(load(spark, sf_dir, "documents"))
    return _bucketed_admission(d, _mixture_quota_from(d), prefix_chars)


def _bucketed_admission(
    d: DataFrame, quota: DataFrame, prefix_chars: int = _MIX_BUCKET_CHARS
) -> DataFrame:
    """The quota-parameterized two-pass bucketed fill — extracted
    (r10) so the UniMax remainder admission ships the SAME 100 TB path
    (unimax_sample_bucketed) instead of documenting it; the extraction
    leaves mixture_sample_bucketed's logical plan byte-identical."""
    d = d.withColumn(
        "bucket", F.substring("priority", 1, prefix_chars)
    )
    hist = d.groupBy("lang", "bucket").agg(
        F.sum("n_tokens").alias("bucket_tokens")
    )
    wb = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = hist.select(
        "lang",
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(wb), F.lit(0))
        .cast("bigint")
        .alias("bucket_offset"),
    )
    wi = (
        Window.partitionBy("lang", "bucket")
        .orderBy("priority", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("intra", F.sum("n_tokens").over(wi))
        .join(F.broadcast(offs), ["lang", "bucket"])
        .join(quota, "lang")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "priority",
            (F.col("bucket_offset") + F.col("intra"))
            .cast("bigint")
            .alias("cum_tokens"),
            "quota_tokens",
            (
                F.col("bucket_offset") + F.col("intra")
                <= F.col("quota_tokens")
            ).alias("selected"),
        )
    )


def docs_mixture_realized_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture realization audit (r9) — closes the design ->
    realization -> AUDIT triad: per language, what the admission
    ledger actually delivered against the temperature design. Emits
    corpus/selected doc and token totals, the quota, quota utilization
    (selected/quota — how much of the budget the language could fill;
    a low-resource language with fewer tokens than its upsampled quota
    shows the shortfall here), the ACHIEVED token share of the
    realized dataset, the designed temp_share, and the gap. This is
    the one-page check a pipeline reads before training: did the
    realized mix hit the spec, and where did it structurally fail
    (quota > corpus for upsampled languages).

    Reuses docs_mixture_sample (the ledger) and
    docs_lang_temperature_mix (the design) VERBATIM — the audit cannot
    drift from the stages it grades (the embed_ndcg_audit pattern).

    Determinism: all totals are exact int64 sums of ledger columns;
    utilization/achieved_share are exact int/int IEEE divisions (the
    cross-language total enters through an unpartitioned window over
    the languages-sized aggregate); share_gap subtracts the
    decimal-hopped temp_share from an exact division — one IEEE
    subtract of identical doubles on both engines.

    Scale: one pass over the ledger (whose own cost is the admission
    windows) rolled up to O(languages) rows; the design join is
    languages-sized and broadcast.
    """
    led = docs_mixture_sample(spark, sf_dir)
    mix = docs_lang_temperature_mix(spark, sf_dir).select(
        "lang", "temp_share"
    )
    per = led.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("selected").cast("int")).cast("bigint").alias(
            "n_selected_docs"
        ),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("selected"), F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("selected_tokens"),
        F.min("quota_tokens").cast("bigint").alias("quota_tokens"),
    )
    tot_sel = F.sum("selected_tokens").over(Window.partitionBy())
    achieved = F.col("selected_tokens") / F.expr(
        "nullif(tot_sel, 0)"
    ).cast("double")
    return (
        per.withColumn("tot_sel", tot_sel)
        .join(F.broadcast(mix), "lang")
        .select(
            "lang",
            "n_docs",
            "n_selected_docs",
            "n_tokens",
            "selected_tokens",
            "quota_tokens",
            (
                F.col("selected_tokens")
                / F.expr("nullif(quota_tokens, 0)").cast("double")
            ).alias("utilization"),
            achieved.alias("achieved_share"),
            "temp_share",
            (achieved - F.col("temp_share")).alias("share_gap"),
        )
    )


_UNIMAX_EPOCHS = 2  # per-language epoch cap (UniMax N)
_UNIMAX_BUDGET_NUM = 3  # budget = total corpus tokens * 3 // 2
_UNIMAX_BUDGET_DEN = 2


def docs_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling at Scale", public literature):
    distribute a token budget UNIFORMLY across languages, capping each
    language at _UNIMAX_EPOCHS passes over its corpus and
    redistributing freed budget to the uncapped languages — the
    alternative to temperature sampling (docs_lang_temperature_mix)
    that bounds REPETITION of low-resource data instead of fixing
    shares a priori. Emits per language: corpus totals, the epoch cap,
    whether the water-fill capped it, the allocated token count, and
    the resulting epochs over its corpus.

    The sequential water-filling loop has a closed form over languages
    sorted by capacity: with caps c_(1) <= ... <= c_(L) (cap = epochs
    x corpus tokens), language i is capped iff
        c_(i) * (L - i + 1) + prefix_sum(c, i-1)  <  B
    — the uniform share of the budget left when the fill reaches it
    still exceeds its capacity. Cappedness is a PREFIX of the capacity
    order (the classic water-filling argument; pinned in
    tests/test_analytics.py::
    test_unimax_capped_is_prefix_and_conserves_budget), so every
    uncapped language's allocation is one subtraction and one
    division: (B - capped_sum) / n_uncapped.

    Determinism: caps, budget, prefix sums and the capped predicate
    are exact int64 arithmetic (multiply before divide — the predicate
    never leaves integers); each emitted double is ONE int64/int64
    IEEE division (the jaccard convention), bit-identical across
    engines. A language whose documents are all NULL-text rolls up to
    0 tokens via coalesce on BOTH engines (Spark's sum and DuckDB's
    both return NULL over all-NULL input); zero denominators go
    through nullif, never a division error.

    Scale: one token-count aggregation rolls the corpus to the
    languages-sized relation; every window below runs on O(languages)
    rows — the docs_lang_temperature_mix cost shape. At 100 TB the
    corpus pass is the whole cost; the fill itself is constant-sized.
    """
    return unimax_alloc_from(
        mixture_doc_relation(load(spark, sf_dir, "documents"))
    ).select(
        "lang",
        "n_docs",
        "n_tokens",
        "cap_tokens",
        "capped",
        "alloc_tokens",
        "epochs_used",
    )


def unimax_alloc_from(d: DataFrame) -> DataFrame:
    """The water-fill allocation over a prepared per-doc admission
    relation (the mixture_doc_relation shape) — shared VERBATIM by
    docs_unimax_mix (which projects the public columns) and
    docs_unimax_sample (which turns the allocation into integer quotas
    and the replication ledger), so design and realization can never
    disagree about the fill. Returns the full working relation
    including the int64 internals (budget, capped_sum, n_uncapped)."""
    per_lang = (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
        )
        .withColumn(
            "cap_tokens",
            (F.col("n_tokens") * _UNIMAX_EPOCHS).cast("bigint"),
        )
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("cap_tokens", "lang")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    flagged = (
        per_lang.withColumn(
            "budget",
            F.expr(
                f"(sum(n_tokens) over () * {_UNIMAX_BUDGET_NUM})"
                f" div {_UNIMAX_BUDGET_DEN}"
            ).cast("bigint"),
        )
        .withColumn("n_langs", F.count(F.lit(1)).over(w_all).cast("bigint"))
        .withColumn("i", F.row_number().over(w_ord).cast("bigint"))
        .withColumn(
            "csum_prev",
            F.coalesce(F.sum("cap_tokens").over(w_prev), F.lit(0)).cast(
                "bigint"
            ),
        )
        .withColumn(
            "capped",
            F.col("cap_tokens") * (F.col("n_langs") - F.col("i") + 1)
            + F.col("csum_prev")
            < F.col("budget"),
        )
    )
    agg = flagged.withColumn(
        "capped_sum",
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap_tokens"))).over(w_all),
            F.lit(0),
        ).cast("bigint"),
    ).withColumn(
        "n_uncapped",
        (
            F.col("n_langs")
            - F.sum(F.col("capped").cast("bigint")).over(w_all)
        ).cast("bigint"),
    )
    leftover = F.col("budget") - F.col("capped_sum")
    return agg.withColumn(
        "alloc_tokens",
        F.when(F.col("capped"), F.col("cap_tokens").cast("double")).otherwise(
            leftover / F.expr("nullif(n_uncapped, 0)")
        ),
    ).withColumn(
        "epochs_used",
        F.when(
            F.col("capped"),
            F.col("cap_tokens") / F.expr("nullif(n_tokens, 0)"),
        ).otherwise(leftover / F.expr("nullif(n_uncapped * n_tokens, 0)")),
    )


def docs_unimax_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax realization (r10) — the replication ledger that turns
    docs_unimax_mix's allocation into an actual epoch-capped dataset:
    a language allocated e epochs delivers each document
    floor(quota / corpus_tokens) full copies (the whole-epoch passes)
    plus ONE extra copy for the admission-ordered prefix that fills
    the remainder — exactly how an epoch-capped multilingual run
    consumes its corpus (full passes + a partial final epoch). Emits
    per doc: the admission priority and cumulative (the
    mixture_sample conventions), the language's integer quota and
    corpus size, base copies, the extra-copy verdict, and total
    copies. The docs_mixture_sample / docs_mixture_realized_mix triad
    symmetry for the UniMax design.

    Reuses VERBATIM: mixture_doc_relation (token/priority
    conventions), unimax_alloc_from (the fill — design and
    realization cannot disagree), and _admission_from (the remainder
    prefix is the SAME admission window algebra the temperature
    ledger runs, fed the remainder as its quota).

    Determinism: quotas are pure int64 (capped -> cap; uncapped ->
    integer division of the leftover); base/remainder are int64
    div/mod with nullif guards (a zero-token language delivers zero
    copies, never a division error); the prefix verdict is the
    integer cum <= rem comparison.

    Scale: the allocation is O(languages); the ledger adds the same
    per-language admission window as docs_mixture_sample, plus one
    languages-sized broadcast join for the copy counts. The 100 TB
    path is SHIPPED: unimax_sample_bucketed (below) runs the
    remainder prefix through the same two-pass bucketed fill as
    mixture_sample_bucketed, pinned bit-equal at both SFs and bucket
    widths.
    """
    return unimax_sample_from(
        mixture_doc_relation(load(spark, sf_dir, "documents"))
    )


def unimax_sample_from(d: DataFrame) -> DataFrame:
    """The UniMax replication ledger over a prepared per-doc relation
    with the exact admission window — the relation docs_unimax_sample
    declares, factored so streaming.mixture.MixtureLedger.unimax_sample
    (ST18's second read-time consumer, r10 verdict ask #3) runs the
    IDENTICAL plan over its maintained relation: the streaming surface
    is bit-equal to the batch query by construction."""
    return _unimax_ledger(d, _admission_from)


def unimax_sample_bucketed(
    spark: SparkSession, sf_dir: str, prefix_chars: int = _MIX_BUCKET_CHARS
) -> DataFrame:
    """The 100 TB path for docs_unimax_sample: the remainder-prefix
    admission runs the SAME two-pass bucketed-histogram fill the
    temperature ledger ships (_bucketed_admission — identical (lang,
    priority) order, so the invariance argument transfers verbatim);
    everything else (quotas, whole-epoch copies) is already
    languages-sized. Pinned bit-equal to the exact window at both SFs
    and bucket widths (tests/test_analytics.py)."""
    d = mixture_doc_relation(load(spark, sf_dir, "documents"))
    return _unimax_ledger(
        d, lambda dd, qq: _bucketed_admission(dd, qq, prefix_chars)
    )


def docs_unimax_realized_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax realization audit (r10, staged for the r11 window — the
    docs_mixture_realized_mix symmetry): per language, what the
    replication ledger actually delivers against the water-fill
    design — delivered tokens (copies x doc tokens), quota
    utilization, realized epochs beside the designed epochs_used and
    their gap, and the achieved share of the realized dataset. The
    one-page check before an epoch-capped run: did every language get
    its allocation, and how far does integer rounding (whole-epoch
    div/mod, remainder-prefix fill) pull realized epochs from the
    design.

    Reuses docs_unimax_sample (the ledger) and unimax_alloc_from (the
    design) VERBATIM — the audit cannot drift from the stages it
    grades. Every emitted double is one int64/int64 IEEE division or
    one IEEE subtract of two such divisions (the share_gap
    convention).

    Scale: one rollup over the ledger to O(languages) rows, an
    unpartitioned window over that rollup for the realized total, and
    a languages-sized broadcast design join.
    """
    led = docs_unimax_sample(spark, sf_dir)
    design = unimax_alloc_from(
        mixture_doc_relation(load(spark, sf_dir, "documents"))
    ).select("lang", F.col("epochs_used").alias("designed_epochs"))
    per = led.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("lang_tokens").cast("bigint").alias("lang_tokens"),
        F.min("quota_tokens").cast("bigint").alias("quota_tokens"),
        F.min("base_copies").cast("bigint").alias("base_copies"),
        F.sum(F.col("extra_copy").cast("int")).cast("bigint").alias(
            "extra_docs"
        ),
        F.coalesce(F.sum(F.col("n_copies") * F.col("n_tokens")), F.lit(0))
        .cast("bigint")
        .alias("delivered_tokens"),
    )
    tot = F.sum("delivered_tokens").over(Window.partitionBy())
    realized = F.col("delivered_tokens") / F.expr(
        "nullif(lang_tokens, 0)"
    )
    return (
        per.withColumn("tot_del", tot)
        .join(F.broadcast(design), "lang")
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            "quota_tokens",
            "base_copies",
            "extra_docs",
            "delivered_tokens",
            (
                F.col("delivered_tokens")
                / F.expr("nullif(quota_tokens, 0)")
            ).alias("utilization"),
            realized.alias("realized_epochs"),
            "designed_epochs",
            (realized - F.col("designed_epochs")).alias("epoch_gap"),
            (
                F.col("delivered_tokens") / F.expr("nullif(tot_del, 0)")
            ).alias("achieved_share"),
        )
    )


def _unimax_ledger(d: DataFrame, admit) -> DataFrame:
    """The UniMax replication ledger over a prepared per-doc relation,
    parameterized by the admission kernel (exact window or bucketed
    fill) that ranks the remainder prefix."""
    q = (
        unimax_alloc_from(d)
        .select(
            "lang",
            F.col("n_tokens").alias("lang_tokens"),
            F.when(F.col("capped"), F.col("cap_tokens"))
            .otherwise(
                F.expr(
                    "(budget - capped_sum) div nullif(n_uncapped, 0)"
                )
            )
            .cast("bigint")
            .alias("unimax_quota"),
        )
        .withColumn(
            "base_copies",
            F.coalesce(
                F.expr("unimax_quota div nullif(lang_tokens, 0)"), F.lit(0)
            ).cast("bigint"),
        )
        .withColumn(
            "rem_tokens",
            F.coalesce(
                F.expr("unimax_quota % nullif(lang_tokens, 0)"), F.lit(0)
            ).cast("bigint"),
        )
    )
    led = admit(
        d, q.select("lang", F.col("rem_tokens").alias("quota_tokens"))
    ).drop("quota_tokens")
    meta = q.select("lang", "lang_tokens", "unimax_quota", "base_copies")
    return led.join(F.broadcast(meta), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "priority",
        "cum_tokens",
        F.col("unimax_quota").alias("quota_tokens"),
        "lang_tokens",
        "base_copies",
        F.col("selected").alias("extra_copy"),
        (F.col("base_copies") + F.col("selected").cast("bigint"))
        .cast("bigint")
        .alias("n_copies"),
    )


def admission_docs_from(doc_langs: DataFrame, ln: DataFrame) -> DataFrame:
    """The admission INPUT relation of the composed ingest chain —
    (doc_id, lang, n_tokens, priority) over the gate-kept (`doc_langs`:
    doc_id, lang) documents and their C4 line relation (`ln`: doc_id,
    line_no, line). n_tokens is the KEPT-line token mass after
    corpus-wide keep-first line dedup, counted from dedup.c4_kept_lines
    (the keeper set the line-dedup rollup reports), so a document
    whose lines all lost keep-first enters admission with n_tokens = 0
    rather than vanishing; priority is md5(doc_id), the
    mixture_doc_relation convention. The stage-attrition audit's
    line_dedup row and the admission ledger (mixture_sample_from over
    this relation) consume the same post-dedup mass relation."""
    from ..dedup import c4_kept_lines

    kept_tok = (
        c4_kept_lines(ln)
        .select(
            "doc_id",
            F.size(F.split("line", " ")).cast("bigint").alias("t"),
        )
        .groupBy("doc_id")
        .agg(F.sum("t").alias("kept_tokens"))
    )
    return doc_langs.join(kept_tok, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("priority"),
    )


