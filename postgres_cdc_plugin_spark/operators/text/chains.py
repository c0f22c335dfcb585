"""The composed ingest chain: one ordered stage list (INGEST_STAGES)
and one batch composer (ingest_chain_stages) that builds any ordered
selection of it. Each registered chain query is a selection:

  docs_ingest_chain         gate -> line dedup -> admission
  docs_ingest_chain_nd      gate -> near-dup dedup -> line dedup
                            -> admission
  docs_ingest_chain_kn      gate -> KN band -> near-dup dedup
                            -> line dedup -> admission
  docs_ingest_chain_contam  the KN chain -> decontamination
  docs_ingest_chain_audit   per-stage attrition of the contam chain

streaming/ingest.IngestPipeline composes the same selections at read
time over its maintained ledgers and is pinned bit-equal to these
queries.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...session import load, spread_scan

from . import base as _base, mixture as _mixture, kn as _kn

for _m in (_base, _mixture, _kn,):
    globals().update(
        {k: v for k, v in vars(_m).items() if not k.startswith("__")}
    )

# the stage list, in chain order; names are the audit's stage names
INGEST_STAGES = (
    "gopher_gate", "kn_band", "neardup_dedup", "line_dedup", "admission",
)
CHAIN_STAGES = ("gopher_gate", "line_dedup", "admission")
CHAIN_ND_STAGES = ("gopher_gate", "neardup_dedup", "line_dedup", "admission")


class ChainStages(NamedTuple):
    """A composed chain's stage relations: `gate` the full Gopher
    verdict relation; `kn_ids` / `nd_ids` the KN-band and near-dup
    survivor id sets (None when the selection skips the stage);
    `admit_docs` the admission input (doc_id, lang, n_tokens =
    kept-line mass after line dedup, priority); `sample` the admission
    ledger."""

    gate: DataFrame
    kn_ids: DataFrame | None
    nd_ids: DataFrame | None
    admit_docs: DataFrame
    sample: DataFrame


def check_stages(stages: tuple[str, ...]) -> None:
    """Reject a stage tuple that is not an ordered selection of
    INGEST_STAGES carrying the gate, line dedup and admission (the
    composers always run those three)."""
    ordered = tuple(s for s in INGEST_STAGES if s in stages)
    if ordered != tuple(stages) or not set(CHAIN_STAGES) <= set(stages):
        raise ValueError(f"not an ingest chain selection: {stages!r}")


def ingest_chain_stages(
    docs: DataFrame,
    stages: tuple[str, ...],
    per_doc: DataFrame | None = None,
    persist_stages: bool = False,
) -> ChainStages:
    """Compose the selected `stages` over an arbitrary (doc_id, text,
    lang) relation and return the stage relations. Each stage's
    verdict feeds the next: a gated-out document contributes no
    bigrams to the KN model, a band or cluster loser no near-dup pairs
    and no lines to keep-first, and line-dedup losses shrink a
    language's token mass and therefore every language's quota.

    The KN model is trained on the gated corpus (stage order changes
    the model). Pairs among surviving documents are the persisted
    corpus SimHash pair relation with both endpoints surviving
    (hamming between fixed signatures does not depend on other
    documents), so no signature is recomputed. `per_doc` optionally
    supplies the per-(doc, bigram) count relation of `docs` (the
    bigram_counts family kernel); counts are per-document, so the
    gated model is that relation restricted to gate-kept ids.

    `persist_stages=True` (the audit's mode) cuts the lineage of the
    narrow relations the audit consumes several times — the KN keep
    set, the cluster loser set and the admission input — with an eager
    localCheckpoint, so its rollup branches carry small plans instead
    of copies of the chain. The chains consume each once and keep the
    default."""
    walk = _chain_walk(docs, stages, per_doc, persist_stages)
    return ChainStages(**dict(walk))


def _chain_walk(docs, stages, per_doc, persist_stages):
    """ingest_chain_stages as a generator of (field, relation) pairs
    in ChainStages order. The gate comes first and before any eager
    step, so the audit can start gate-only work on it while the later
    stages checkpoint."""
    from ..dedup import _simhash_pairs_df, c4_lines_of, dup_clusters_from

    check_stages(stages)
    # raw docs feed the persisted family kernels (simhash pairs, bigram
    # per-doc: their plans must stay identical to the family builds');
    # the spread relation feeds the gate and the line explode
    raw, docs = docs, spread_scan(docs, "doc_id")
    gate = gopher_rules_df(docs)
    yield "gate", gate
    # ids stays uncut in audit mode: it sits inside kn_ids' lineage,
    # and kn_ids' plan must match the chain's so the session-persisted
    # entry is shared between the audit and the chain
    ids = gate.filter("keep").select("doc_id")
    cur = docs.join(ids, "doc_id").select("doc_id", "text", "lang")
    kn_ids = None
    if "kn_band" in stages:
        if per_doc is None:
            per_doc = bigram_per_doc(raw.select("doc_id", "text"))
        gated_counts = per_doc.join(ids, "doc_id")
        # consumed three times (both pair endpoints and the survivor
        # join): persisted so the scoring subtree runs once; the
        # checkpoint in audit mode materializes through that persist
        ids = kn_ids = (
            cur.select("doc_id")
            .join(
                kn_surprisal_from(
                    gated_counts, bigram_corpus_from(gated_counts)
                ),
                "doc_id",
                "left",
            )
            .filter(_kn_band_col() == "keep")
            .select("doc_id")
            .persist()
        )
        if persist_stages:
            ids = kn_ids = kn_ids.localCheckpoint()
        cur = cur.join(kn_ids, "doc_id")
    yield "kn_ids", kn_ids
    nd_ids = None
    if "neardup_dedup" in stages:
        pairs = (
            _simhash_pairs_df(raw)
            .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a")
            .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b")
            .select("doc_a", "doc_b")
        )
        losers = (
            dup_clusters_from(docs.sparkSession, pairs)
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id")
        )
        if persist_stages:
            losers = losers.localCheckpoint()
        cur = cur.join(losers, "doc_id", "left_anti")
        # id algebra over two narrow relations: the audit's near-dup
        # row never touches the corpus scan
        nd_ids = ids.join(losers, "doc_id", "left_anti")
    yield "nd_ids", nd_ids
    lined = cur.select(
        "doc_id",
        "lang",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("ws"),
    ).select("doc_id", "lang", F.expr(_C4_LINES_EXPR).alias("lines"))
    admit_docs = admission_docs_from(
        lined.select("doc_id", "lang"), c4_lines_of(lined)
    )
    if persist_stages:
        admit_docs = admit_docs.localCheckpoint()
    yield "admit_docs", admit_docs
    yield "sample", mixture_sample_from(admit_docs)


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select("doc_id", "text", "lang")


def _family_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KN stage's per-(doc, bigram) counts over the documents
    table: the persisted bigram_counts family kernel."""
    per_doc, _ = _bigram_counts(load(spark, sf_dir, "documents"))
    return per_doc


def _bench_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The benchmark (doc_id, text) relation decontamination probes:
    the corpus's `src0` split, standing in for a held-out eval suite."""
    return (
        load(spark, sf_dir, "documents")
        .filter(F.col("source") == _BENCH_SOURCE)
        .select("doc_id", "text")
    )


def docs_ingest_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three data-admitting stages in one logical plan: Gopher
    quality gate (gopher_rules_df) → corpus-wide C4 keep-first line
    dedup → temperature-mixture admission (mixture_sample_from). Emits
    the admission ledger over the gated, line-deduped corpus — the
    document set and token budget a training run would draw.

    Every stage is the standalone kernel, so the DuckDB oracle chains
    the same CTEs; the streaming IngestPipeline.sample() is pinned
    bit-equal to this query.

    Scale shape: gate = zero-shuffle lambda projection; gated join keys
    on doc_id; line dedup = one map-side-combinable min-struct agg;
    token rollup + left join key on doc_id; admission = languages-sized
    quota rollup + per-language windows. Nothing quadratic, no stage
    re-reads the corpus.
    """
    return ingest_chain_stages(_documents(spark, sf_dir), CHAIN_STAGES).sample


def docs_ingest_chain_nd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four-stage chain: Gopher gate → near-dup CLUSTER dedup
    (docs_cluster_dedup's keep-one-per-component policy) → C4
    keep-first line dedup → temperature-mixture admission. A gated-out
    document contributes no near-dup pairs, and a cluster loser no
    lines to keep-first.

    The near-dup stage restricts the persisted corpus SimHash pair
    relation to gate-kept endpoints and labels components with
    dup_clusters_from; the oracle interposes the same recursive-CC leg.
    The streaming IngestPipeline.sample_nd() is pinned bit-equal to
    this query.

    Scale shape on top of docs_ingest_chain: two doc_id joins of the
    pair-bounded family relation against the kept set, the
    diameter-bounded component labeling and one doc_id anti-join; the
    line explode then runs on the smaller deduped corpus.
    """
    return ingest_chain_stages(
        _documents(spark, sf_dir), CHAIN_ND_STAGES
    ).sample


def docs_ingest_chain_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five-stage chain: Gopher gate → Kneser-Ney middle-band keep
    → near-dup CLUSTER dedup → C4 keep-first line dedup →
    temperature-mixture admission.

    The KN model is trained on the GATED corpus (CCNet trains its LM on
    cleaned text; a gated-out document's bigrams must not shape p_kn),
    and the oracle's KN CTE joins the gate's keep set before counting a
    bigram. Only band = 'keep' passes — 'below', 'above' and 'unscored'
    stop here; docs_kn_band is this stage's audit relation (same
    scorer, same band expression).

    The scorer and band verdict are docs_kn_band's expressions, the KN
    counts come from the persisted bigram_counts family kernel, and the
    streaming IngestPipeline.sample_kn() is pinned bit-equal to this
    query.

    Scale shape on top of docs_ingest_chain_nd: the docs_kn_surprisal
    cost restricted to the gated corpus plus one doc_id join, and every
    later stage runs on the smaller KN-kept corpus.
    """
    return ingest_chain_stages(
        _documents(spark, sf_dir),
        INGEST_STAGES,
        per_doc=_family_per_doc(spark, sf_dir),
    ).sample


def docs_ingest_chain_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six-stage chain: the five-stage chain followed by
    DECONTAMINATION — drop any admitted document that shares a distinct
    token 5-gram with the benchmark corpus (the `src0` split, as in
    docs_contamination).

    Decontamination is TERMINAL: it runs after admission, so quotas do
    not refill around a contaminated document; the shortfall shows in
    the audit's decontam row. The verdict is uniform — the benchmark
    split's own documents are probed too and drop by construction, so
    the eval split never leaks into `train`. Contamination is measured
    on GATE-kept documents (a per-document verdict against a fixed gram
    set, so probing any superset of the admitted docs is exact), which
    keeps the hits relation's plan identical between this chain and
    the audit (pinned by sameSemantics in tests/test_plans.py).

    Emits the five-stage admission ledger widened by n_contam_grams
    (0 for clean documents) and train = selected AND clean. The
    terminal stage is contam_sample_from, which the streaming
    IngestPipeline.sample_contam() runs at read time.

    Scale shape on top of docs_ingest_chain_kn: one gram explode over
    the gate-kept corpus, a broadcast membership probe against the
    benchmark set, one doc_id-keyed count and one doc-grain left join.
    """
    docs = _documents(spark, sf_dir)
    st = ingest_chain_stages(
        docs, INGEST_STAGES, per_doc=_family_per_doc(spark, sf_dir)
    )
    hits = _contam_hits_gated(docs, st.gate, _bench_docs(spark, sf_dir))
    return contam_sample_from(st.sample, hits)




def _contam_hits_gated(
    docs: DataFrame, gate: DataFrame, bench_docs: DataFrame
) -> DataFrame:
    """The decontamination hits relation over the GATE-kept corpus,
    session-persisted. Built from the uncut gate plan in both persist
    modes, so the six-stage chain and the audit construct the same
    analyzed plan and share one gram-explode + probe pass through the
    session cache (pinned by sameSemantics in tests/test_plans.py)."""
    kept = spread_scan(docs, "doc_id").join(
        gate.filter("keep").select("doc_id"), "doc_id"
    ).select("doc_id", "text")
    return contam_hits_from(
        doc_grams_of(kept), bench_grams_of(bench_docs)
    ).persist()


def contam_sample_from(sample: DataFrame, hits: DataFrame) -> DataFrame:
    """The terminal decontamination stage over an admission ledger —
    the sample's rows widened by (n_contam_grams, train). Shared by the
    batch six-stage chain and the streaming
    IngestPipeline.sample_contam(). `hits` is hit-sized (clean docs
    absent); the LEFT join + coalesce restores the zero."""
    n = F.coalesce(F.col("n_contam_grams"), F.lit(0)).cast("bigint")
    return sample.join(hits, "doc_id", "left").select(
        *sample.columns,
        n.alias("n_contam_grams"),
        (F.col("selected") & (n == F.lit(0))).alias("train"),
    )


def docs_ingest_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-attrition audit of the six-stage chain: per stage (raw →
    Gopher gate → KN band → near-dup cluster dedup → line dedup →
    admission → decontam) the surviving document count, the token mass
    as measured at that stage, and the kept fraction of both against
    the previous stage — the table Gopher/C4/CCNet publish for their
    pipelines, read before committing a filter cascade to a large run.
    The decontam row reports the TRAIN set (admitted AND
    benchmark-clean) in the admission unit.

    Mass units: stages 0-3 report mass in the gate's own unit
    (gopher_rules_df's n_words — split tokens, NULL text counting 0);
    the line_dedup and admission rows report kept-line token mass, the
    admission input's n_tokens. Line dedup drops lines, never
    documents, so its row shows kept_frac = 1.0 with mass_frac < 1.
    The two units also differ in empty-token handling: n_words counts
    the empty tokens a raw split(' ') yields for repeated, leading or
    trailing spaces, while the admission unit drops them before lines
    are cut (_C4_LINES_EXPR). The line_dedup row's mass_frac therefore
    folds that unit change into the dedup loss and can read < 1 with
    no duplicate line; the streaming gate ledger keeps only n_words, so
    both surfaces measure it this way.

    Every stage set comes from the five-stage selection of
    ingest_chain_stages — the relations docs_ingest_chain_kn runs — and
    the rollup is ingest_audit_from, shared with the streaming
    IngestPipeline.audit(); the oracle swaps only the chain oracle's
    final SELECT for the stage rollup.

    Determinism: counts and token sums are exact int64; kept_frac and
    mass_frac are exact int64/int64 IEEE divisions (NULL for the raw
    row). 7 rows out.

    Scale: persist_stages=True checkpoints the KN keep set, the cluster
    loser set and the admission input once, so the audit costs the
    chain's own lineage plus seven map-side-combinable rollups over
    narrow relations. The gate verdicts and the decontam hits depend
    only on the gate, so they materialize on a second Python thread
    (inheriting the caller's job group and local properties) while the
    main thread walks the chain's checkpoints. The hits relation is the
    session-persisted one docs_ingest_chain_contam reads, so the pair
    pays one gram-explode + probe pass.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    docs = _documents(spark, sf_dir)
    walk = _chain_walk(
        docs, INGEST_STAGES, _family_per_doc(spark, sf_dir), True
    )
    _, gate = next(walk)
    hits = _contam_hits_gated(docs, gate, _bench_docs(spark, sf_dir))

    def _materialize_side() -> DataFrame:
        spark.sparkContext.setJobDescription(
            "ingest_chain_audit: gate-branch overlap (verdicts + hits)"
        )
        # two short columns at doc grain, consumed by five of the seven
        # stage rows: materialized once, lineage cut
        v = audit_verdicts_from(gate).localCheckpoint()
        hits.write.format("noop").mode("overwrite").save()
        return v

    with ThreadPoolExecutor(max_workers=1) as pool:
        side = pool.submit(inheritable_thread_target(spark)(_materialize_side))
        st = ChainStages(gate=gate, **dict(walk))
        verdicts = side.result()
    return ingest_audit_from(
        verdicts,
        st.kn_ids,
        st.nd_ids,
        st.admit_docs,
        st.sample,
        contam_sample_from(st.sample, hits),
    )


def audit_verdicts_from(gate: DataFrame) -> DataFrame:
    """The audit's narrow per-document relation off the gate verdicts
    — (doc_id, nt = raw mass in the gate's own n_words unit with NULL
    text counting 0, keep) — ONE projection shared by the batch audit
    and the streaming IngestPipeline.audit() so raw mass is measured
    identically on both surfaces (the batch audit checkpoints it, the
    streaming consumer wave-caches it)."""
    return gate.select(
        "doc_id",
        F.coalesce(F.col("n_words"), F.lit(0)).cast("long").alias("nt"),
        "keep",
    )


def ingest_audit_from(
    verdicts: DataFrame,
    kn_ids: DataFrame,
    nd_ids: DataFrame,
    admit_docs: DataFrame,
    sample: DataFrame,
    final: DataFrame,
) -> DataFrame:
    """The seven-row stage-attrition rollup over the chain's stage
    relations — ONE expression tree shared by docs_ingest_chain_audit
    (batch, over ingest_chain_stages) and the streaming
    IngestPipeline.audit() (over the maintained ledgers), so the two
    surfaces can never disagree about a stage row. Raw mass comes from
    the gate relation's own n_words via audit_verdicts_from (the unit
    the pipeline's first stage measures, and the one relation BOTH
    surfaces maintain for every document including gate-dropped ones);
    post-line-dedup mass comes from the admission input / ledger
    n_tokens; the decontam row counts `final`'s train set (admitted
    AND benchmark-clean) in the same admission unit."""
    tok = verdicts.select("doc_id", "nt")
    kept = admit_docs.select("doc_id", F.col("n_tokens").alias("nt"))
    stages = [
        (0, "raw", tok),
        (1, "gopher_gate", verdicts.filter("keep").select("doc_id", "nt")),
        (2, "kn_band", tok.join(kn_ids, "doc_id")),
        (3, "neardup_dedup", tok.join(nd_ids, "doc_id")),
        (4, "line_dedup", kept),
        (5, "admission", sample.filter("selected").select(
            "doc_id", F.col("n_tokens").alias("nt")
        )),
        (6, "decontam", final.filter("train").select(
            "doc_id", F.col("n_tokens").alias("nt")
        )),
    ]
    rows = None
    for no, name, rel in stages:
        agg = rel.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )
        rows = agg if rows is None else rows.unionByName(agg)
    return rows.select(
        "stage_no",
        "stage",
        "n_docs",
        "n_tokens",
        (
            F.col("n_docs")
            / F.expr("nullif(lag(n_docs) over (order by stage_no), 0)").cast(
                "double"
            )
        ).alias("kept_frac"),
        (
            F.col("n_tokens")
            / F.expr(
                "nullif(lag(n_tokens) over (order by stage_no), 0)"
            ).cast("double")
        ).alias("mass_frac"),
    )


