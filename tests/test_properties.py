"""Property-based tests (hypothesis) for the pure config/scalar layer,
plus a seeded randomized equivalence check for the column-diff gate.

The reference has no property tests at all (SURVEY.md §5 — black-box
integration only); its retry/backoff and validation semantics are exactly
the kind of small algebra where properties beat examples: the invariants
below hold for EVERY config the reference would accept, not just the
handful its tests construct.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from postgres_cdc_plugin_spark.config import SubscriptionConfig

_valid_interval = st.integers(min_value=1, max_value=600)
_valid_retries = st.integers(min_value=0, max_value=20)
_attempt = st.integers(min_value=0, max_value=20)


def _cfg(**kw) -> SubscriptionConfig:
    base = dict(name="t", table_name="employees", webhook_url="http://x/")
    base.update(kw)
    return SubscriptionConfig(**base)


@given(ivl=_valid_interval, n=_valid_retries, a=_attempt)
def test_linear_backoff_is_constant(ivl, n, a):
    # src/cdc_webhook.c:103-106 — LINEAR delay never depends on attempt
    cfg = _cfg(retry_interval=ivl, retry_number=n, retry_backoff="LINEAR")
    assert cfg.backoff_delay(a) == ivl


@given(ivl=_valid_interval, a=st.integers(min_value=0, max_value=19))
def test_exponential_backoff_doubles(ivl, a):
    # src/cdc_webhook.c:107-109 — interval * 2^n via left shift
    cfg = _cfg(retry_interval=ivl, retry_backoff="EXPONENTIAL")
    assert cfg.backoff_delay(a + 1) == 2 * cfg.backoff_delay(a)
    assert cfg.backoff_delay(0) == ivl


@given(ivl=_valid_interval, n=_valid_retries)
def test_worst_case_sync_stall_closed_form(ivl, n):
    # BASELINE.md "worst-case sync stall": sum of EXPONENTIAL backoff
    # sleeps over the retry budget is interval * (2^retries - 1)
    cfg = _cfg(retry_interval=ivl, retry_number=n, retry_backoff="EXPONENTIAL")
    total = sum(cfg.backoff_delay(a) for a in range(cfg.retry_number))
    assert total == ivl * ((1 << n) - 1)


@given(n=_valid_retries)
def test_attempt_budget_is_retries_plus_one(n):
    # src/cdc_webhook.c:178; tests/test_retries.py:58-62
    assert _cfg(retry_number=n).attempt_budget == n + 1


@given(
    timing=st.text(min_size=1, max_size=10),
    backoff=st.text(min_size=1, max_size=10),
)
def test_invalid_enums_always_raise(timing, backoff):
    # cdc_webhook--1.0.sql:146-153 — anything outside the enum raises
    import pytest

    if timing not in ("BEFORE", "AFTER"):
        with pytest.raises(ValueError):
            _cfg(trigger_timing=timing)
    if backoff not in ("LINEAR", "EXPONENTIAL"):
        with pytest.raises(ValueError):
            _cfg(retry_backoff=backoff)


@given(n=st.integers(max_value=-1), ivl=st.integers(max_value=0))
def test_negative_retry_config_always_raises(n, ivl):
    # cdc_webhook--1.0.sql:171-177
    import pytest

    with pytest.raises(ValueError):
        _cfg(retry_number=n)
    with pytest.raises(ValueError):
        _cfg(retry_interval=ivl)


@given(cancel=st.booleans())
def test_async_cancel_combination_rule(cancel):
    # cdc_webhook--1.0.sql:166-168 — ASYNC+cancel_on_failure rejected
    import pytest

    if cancel:
        with pytest.raises(ValueError):
            _cfg(mode="ASYNC", cancel_on_failure=True)
    else:
        assert _cfg(mode="ASYNC", cancel_on_failure=False).mode == "ASYNC"


@settings(deadline=None, max_examples=30)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-3, 3)),
            st.one_of(st.none(), st.integers(-3, 3)),
            st.one_of(st.none(), st.integers(-3, 3)),
            st.one_of(st.none(), st.integers(-3, 3)),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_diff_gate_matches_null_safe_reference(rows, spark):
    """any_column_changed == python null-safe != on every generated row,
    including all-NULL columns (IS DISTINCT FROM semantics,
    cdc_webhook--1.0.sql:206). One Spark job per hypothesis example over
    a multi-row batch keeps runtime sane."""
    from postgres_cdc_plugin_spark.functions import scalar

    df = spark.createDataFrame(
        [
            {
                "old": {"a": oa, "b": ob},
                "new": {"a": na, "b": nb},
            }
            for oa, ob, na, nb in rows
        ],
        "old struct<a: int, b: int>, new struct<a: int, b: int>",
    )
    got = [
        r.changed
        for r in df.select(
            scalar.any_column_changed(["a", "b"]).alias("changed")
        ).collect()
    ]
    want = [(oa != na) or (ob != nb) for oa, ob, na, nb in rows]
    assert got == want


@given(n=st.integers(min_value=1, max_value=5000))
def test_chunking_spec_covers_every_token(n):
    """docs_chunks spec (operators/text.py): chunks of _CHUNK_TOKENS
    starting every _CHUNK_STRIDE cover EVERY token exactly while
    consecutive chunks overlap by chunk-stride (except a short tail) —
    for any document length. The same arithmetic runs in Spark and the
    DuckDB oracle; this pins the spec itself."""
    from postgres_cdc_plugin_spark.operators.text import _CHUNK_STRIDE, _CHUNK_TOKENS

    n_chunks = (n - 1) // _CHUNK_STRIDE + 1
    covered = set()
    prev_end = None
    for c in range(n_chunks):
        start = c * _CHUNK_STRIDE + 1
        end = min(start + _CHUNK_TOKENS - 1, n)
        assert start <= n  # every emitted chunk is nonempty
        covered.update(range(start, end + 1))
        if prev_end is not None and end - start + 1 == _CHUNK_TOKENS:
            # full (non-tail) chunk: overlap with predecessor is exactly
            # chunk - stride tokens
            assert prev_end - start + 1 == _CHUNK_TOKENS - _CHUNK_STRIDE
        prev_end = end
    assert covered == set(range(1, n + 1))


@given(tokens=st.lists(st.integers(min_value=1, max_value=200), min_size=1, max_size=300))
def test_packing_spec_bins_are_contiguous_and_bounded(tokens):
    """docs_pack_bins spec: within a shard, bin ids are nondecreasing in
    doc order, start at 0 with no gaps, and a new bin opens exactly when
    the running total crosses the budget — so every bin except the last
    holds >= budget - (its last doc's tokens) + 1 and bins never exceed
    budget + last-doc - 1 tokens."""
    from postgres_cdc_plugin_spark.operators.text import _PACK_BIN_TOKENS as B

    cum = 0
    bins: dict[int, int] = {}
    prev_bin = 0
    for t in tokens:
        bin_id = cum // B  # tokens_before // budget
        cum += t
        assert bin_id >= prev_bin
        assert bin_id - prev_bin <= max(1, t // B + 1)  # no unexplained gaps
        bins[bin_id] = bins.get(bin_id, 0) + t
        prev_bin = bin_id
    assert 0 in bins
    full_bins = sorted(bins)[:-1]
    for b in full_bins:
        # a bin closes only because the NEXT doc's start crossed the
        # budget: its total plus that doc's first token exceeds B
        assert bins[b] + 1 > B - 200  # bounded under-fill (max doc 200)


def test_pipeline_e2e_composes_standalone_stages(spark, sf_dir):
    """docs_pipeline_e2e consistency vs its standalone stages: every
    emitted chunk is bit-identical to docs_chunks' chunk for the same
    (doc_id, chunk_id); every surviving doc passes the standalone
    quality floor; and no two surviving docs share a content
    fingerprint (the dedup stage held). Doc SETS legitimately differ
    from corpus-wide standalone dedup — the pipeline dedups among
    quality survivors, which is the point of the stage order."""
    from pyspark.sql import functions as F

    from postgres_cdc_plugin_spark.operators import text

    pipe = text.docs_pipeline_e2e(spark, sf_dir)
    chunks = text.docs_chunks(spark, sf_dir).select(
        "doc_id", "chunk_id", F.col("chunk_hash").alias("want_hash")
    )
    joined = pipe.join(chunks, ["doc_id", "chunk_id"], "left")
    assert joined.filter(
        F.col("want_hash").isNull() | (F.col("chunk_hash") != F.col("want_hash"))
    ).count() == 0

    q_ok = set(
        r.doc_id
        for r in text.docs_quality_score(spark, sf_dir)
        .filter(F.col("quality_score") >= text._PIPE_MIN_QUALITY)
        .collect()
    )
    survivors = [r.doc_id for r in pipe.select("doc_id").distinct().collect()]
    assert set(survivors) <= q_ok

    from postgres_cdc_plugin_spark.session import load

    docs = load(spark, sf_dir, "documents")
    fp_dupes = (
        docs.join(pipe.select("doc_id").distinct(), "doc_id")
        .groupBy(F.md5(F.lower(F.trim("text"))).alias("fp"))
        .count()
        .filter("count > 1")
        .count()
    )
    assert fp_dupes == 0


@settings(max_examples=30, deadline=None)
@given(
    tuples=st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(max_size=8)),
            st.one_of(st.none(), st.text(max_size=8)),
        ),
        min_size=2,
        max_size=6,
        unique=True,
    )
)
def test_event_uuid_distinct_tuples_distinct_ids(tuples, spark):
    """Per-segment digests make event_uuid collision-free over distinct
    (key, seq) tuples — including NULLs in either slot and values
    containing the join character (the concat_ws null-skip class)."""
    from postgres_cdc_plugin_spark.functions import scalar

    df = spark.createDataFrame(tuples, "k string, s string")
    ids = [
        r.id for r in df.select(scalar.event_uuid("k", "s").alias("id")).collect()
    ]
    assert len(set(ids)) == len(tuples)


# ---- round-3 pure-kernel properties -----------------------------------

def _py_zorder(a: int, b: int, bits: int = 16) -> int:
    a %= 1 << bits
    b %= 1 << bits
    out = 0
    for i in range(bits):
        out |= ((a >> i) & 1) << (2 * i)
        out |= ((b >> i) & 1) << (2 * i + 1)
    return out


@given(
    a=st.integers(min_value=0, max_value=(1 << 16) - 1),
    b=st.integers(min_value=0, max_value=(1 << 16) - 1),
)
# deadline=None: each example runs a DuckDB query — fine in isolation,
# but under a fully-loaded 32-thread suite a single example can exceed
# hypothesis's 200 ms default and fail the test spuriously
@settings(max_examples=200, deadline=None)
def test_zorder_sql_matches_python_reference(a, b):
    """The SQL-mirror key text, evaluated by DuckDB, equals the
    independent Python bit-interleave for every 16-bit pair — so the
    Spark expression (same formula) and oracle cannot both be wrong the
    same way without this failing too."""
    import duckdb

    from postgres_cdc_plugin_spark.plans.zorder import zorder_key_sql

    sql = zorder_key_sql(str(a), str(b))
    got = duckdb.sql(f"SELECT {sql}").fetchone()[0]
    assert got == _py_zorder(a, b)


@given(
    a=st.integers(min_value=0, max_value=(1 << 16) - 1),
    b=st.integers(min_value=0, max_value=(1 << 16) - 1),
    a2=st.integers(min_value=0, max_value=(1 << 16) - 1),
    b2=st.integers(min_value=0, max_value=(1 << 16) - 1),
)
@settings(max_examples=100)
def test_zorder_is_injective(a, b, a2, b2):
    """Distinct coordinate pairs never collide — the interleave is a
    bijection onto 32 bits, so a z-sort loses no ordering information."""
    if (a, b) != (a2, b2):
        assert _py_zorder(a, b) != _py_zorder(a2, b2)


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=200)
def test_ewma_fold_stays_within_input_hull(vals):
    """The EWMA merge (0.2x + 0.8acc) is a convex combination, so the
    fold can never leave [min(vals), max(vals)] — the invariant that
    makes it a safe smoother regardless of sequence content."""
    acc = vals[0]
    for x in vals[1:]:
        acc = 0.2 * x + 0.8 * acc
    eps = 1e-9 * max(1.0, max(abs(v) for v in vals))
    assert min(vals) - eps <= acc <= max(vals) + eps


def test_word_pmi_known_associations(spark):
    """PMI ground truth on a constructed corpus: perfectly co-occurring
    words score log2(N/df) exactly, a word pair where one member is in
    every document is exactly independent (pmi = 0), and disjoint
    word pairs never appear (no zero-count smoothing artifacts)."""
    # patch the DEFINING submodule: docs_word_pmi resolves `load` from
    # text.base's globals since the r12 package split — patching the
    # package attribute would never fire
    import postgres_cdc_plugin_spark.operators.text.base as T

    rows = [(i, ("x y c" if i < 5 else "z c"), "en", "web", 5) for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = T.load
    try:
        T.load = lambda sp, sf, t: docs  # noqa: ARG005
        got = {
            (r.w_a, r.w_b): r for r in T.docs_word_pmi(spark, "ignored").collect()
        }
    finally:
        T.load = orig

    # x and y co-occur in all 5 of their docs: pmi = log2(5*10/(5*5)) = 1
    assert got[("x", "y")].pmi == 1.0
    assert got[("x", "y")].n_pair_docs == 5
    # c appears in EVERY doc -> independent of anything: pmi = 0
    assert got[("c", "x")].pmi == 0.0
    assert got[("c", "z")].pmi == 0.0
    # x and z never share a doc -> pair absent, not -inf
    assert ("x", "z") not in got
    # pairs are canonically ordered (w_a < w_b), each reported once
    assert all(a < b for a, b in got)


def test_ingest_chain_audit_agrees_with_the_chain(spark, sf_dir):
    """The stage-attrition audit and the six-stage chain must never
    disagree about who survived (they share ingest_chain_stages +
    contam_sample_from — this pins the contract against a refactor
    that forks them): the admission row's n_docs equals the chain's
    selected count, the decontam row equals the six-stage ledger's
    train count and mass, the gate row equals gopher_rules_df's keep
    count, stages are monotone non-increasing in both docs and token
    mass, and the raw row covers the whole corpus."""
    from postgres_cdc_plugin_spark.operators.text import (
        docs_ingest_chain_audit,
        docs_ingest_chain_contam,
        docs_ingest_chain_kn,
        gopher_rules_df,
    )
    from postgres_cdc_plugin_spark.session import load

    rows = sorted(
        docs_ingest_chain_audit(spark, sf_dir).collect(),
        key=lambda r: r.stage_no,
    )
    assert [r.stage for r in rows] == [
        "raw", "gopher_gate", "kn_band", "neardup_dedup",
        "line_dedup", "admission", "decontam",
    ]
    docs = load(spark, sf_dir, "documents")
    assert rows[0].n_docs == docs.count()
    assert (
        rows[1].n_docs
        == gopher_rules_df(docs.select("doc_id", "text")).filter("keep").count()
    )
    chain = docs_ingest_chain_kn(spark, sf_dir)
    assert rows[5].n_docs == chain.filter("selected").count()
    # decontam row = the six-stage ledger's train set, count AND mass
    final = docs_ingest_chain_contam(spark, sf_dir).filter("train")
    assert rows[6].n_docs == final.count()
    train_mass = final.agg(F.sum("n_tokens")).collect()[0][0]
    assert rows[6].n_tokens == (train_mass or 0)
    # neardup survivors = every doc the chain's ledger carries (the
    # ledger is built over the post-dedup corpus, selected or not);
    # line dedup drops lines, never documents (r13): same doc set,
    # mass re-measured in kept-line tokens
    assert rows[3].n_docs == chain.count()
    assert rows[4].n_docs == rows[3].n_docs
    assert rows[4].kept_frac == 1.0
    # the line_dedup/admission masses ARE the ledger's own n_tokens —
    # the audit and the admission ledger can never disagree about the
    # mass a training run draws
    ledger_mass = chain.agg(F.sum("n_tokens")).collect()[0][0]
    assert rows[4].n_tokens == ledger_mass
    admitted_mass = (
        chain.filter("selected").agg(F.sum("n_tokens")).collect()[0][0]
    )
    assert rows[5].n_tokens == (admitted_mass or 0)
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs <= prev.n_docs
        assert cur.n_tokens <= prev.n_tokens
        if prev.n_docs:
            assert cur.kept_frac == cur.n_docs / prev.n_docs
        if prev.n_tokens:
            assert cur.mass_frac == cur.n_tokens / prev.n_tokens
