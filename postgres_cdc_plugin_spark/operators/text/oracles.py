"""DuckDB oracle SQL for every text-family query (r12 split, VERBATIM
including evaluation order — the mechanical chain-oracle derivations
and their asserts run exactly as in the monolith). The namespace merge
reproduces the monolith's globals so the hundreds of f-string constant
references resolve unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ...session import load

from . import base as _base, mixture as _mixture, kn as _kn, chains as _chains

for _m in (_base, _mixture, _kn, _chains,):
    globals().update(
        {k: v for k, v in vars(_m).items() if not k.startswith("__")}
    )

def _bm25_sql(terms: tuple[str, ...]) -> str:
    """DuckDB mirror of bm25_search(docs, terms) — parametrized so the
    non-ASCII gate can prove the whole retrieval path on multibyte
    terms, not just the registered ASCII query."""
    return f"""
        WITH lengths AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS dl
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_tokens
            FROM lengths
        ),
        tf AS (
            SELECT doc_id, dl, w, count(*) AS tf
            FROM (
                SELECT doc_id, dl, unnest(string_split(text, ' ')) AS w
                FROM documents JOIN lengths USING (doc_id)
            )
            WHERE w IN ({", ".join(f"'{t}'" for t in terms)})
            GROUP BY doc_id, dl, w
        ),
        idf AS (
            SELECT w,
                   round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0), 6)
                       AS idf
            FROM (SELECT w, count(*) AS df FROM tf GROUP BY w) d, stats s
        ),
        contrib AS (
            SELECT t.doc_id,
                   CAST(round(
                       i.idf * (CAST(t.tf AS DOUBLE) * {_BM25_K1 + 1.0})
                       / (CAST(t.tf AS DOUBLE)
                          + {_BM25_K1} * ({1.0 - _BM25_B}
                              + {_BM25_B} * (CAST(t.dl * s.n_docs AS DOUBLE)
                                             / CAST(s.tot_tokens AS DOUBLE)))),
                       6) AS DECIMAL(38,6)) AS c
            FROM tf t JOIN idf i USING (w), stats s
        )
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_terms_matched,
               CAST(sum(c) AS DOUBLE) AS bm25_score
        FROM contrib
        GROUP BY doc_id
        ORDER BY bm25_score DESC, doc_id ASC
        LIMIT {_BM25_TOPK}
    """


_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

_SPLIT_BUCKET_SQL = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"


def _bpe_iteration_ctes(k: int) -> str:
    """One BPE iteration as a CTE triple (pair counts, argmax, vocab
    rewrite) — the SQL mirror of one token_bpe_merges loop pass."""
    return f"""
        p{k} AS (
            SELECT syms[i] AS a, syms[i + 1] AS b,
                   CAST(sum(cnt) AS BIGINT) AS freq
            FROM (
                SELECT cnt,
                       list_filter(string_split(s, chr(1)), x -> x <> '')
                           AS syms
                FROM v{k - 1}
            ), unnest(range(1, len(syms))) AS t(i)
            GROUP BY syms[i], syms[i + 1]
        ),
        t{k} AS (
            SELECT a, b, freq FROM p{k}
            ORDER BY freq DESC, a ASC, b ASC LIMIT 1
        ),
        v{k} AS (
            SELECT w, cnt,
                   replace(s, chr(1) || a || chr(1) || b || chr(1),
                              chr(1) || a || b || chr(1)) AS s
            FROM v{k - 1}, t{k}
        )"""


_BPE_SQL = (
    """
        WITH w0 AS (
            SELECT w, count(*) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE w <> '' GROUP BY w
        ),
        v0 AS (
            SELECT w, cnt,
                   chr(1) || regexp_replace(w, '(.)', '\\1' || chr(1), 'g') AS s
            FROM w0
        ),"""
    + ",".join(_bpe_iteration_ctes(k) for k in range(1, _BPE_MERGES + 1))
    + "\n        "
    + "\n        UNION ALL ".join(
        f"SELECT {k} AS merge_rank, a AS sym_a, b AS sym_b,"
        f" a || b AS merged, freq FROM t{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
)

# Fertility oracle: the SAME trained-vocabulary CTE chain as
# _BPE_ENCODE_SQL (w0 -> v0 -> 6 merge iterations -> enc), grouped by
# language instead of doc — the oracle mirror of reusing _bpe_train.
_BPE_FERTILITY_SQL = (
    """
        WITH w0 AS (
            SELECT w, count(*) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE w <> '' GROUP BY w
        ),
        v0 AS (
            SELECT w, cnt,
                   chr(1) || regexp_replace(w, '(.)', '\\1' || chr(1), 'g') AS s
            FROM w0
        ),"""
    + ",".join(_bpe_iteration_ctes(k) for k in range(1, _BPE_MERGES + 1))
    + f""",
        enc AS (
            SELECT w,
                   len(list_filter(string_split(s, chr(1)), x -> x <> ''))
                       AS n_syms
            FROM v{_BPE_MERGES}
        ),
        lw AS (
            SELECT lang, w, count(*) AS c
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> '' GROUP BY lang, w
        ),
        per_lang AS (
            SELECT lang,
                   CAST(sum(c) AS BIGINT) AS n_words,
                   CAST(sum(c * length(w)) AS BIGINT) AS n_chars,
                   CAST(sum(c * n_syms) AS BIGINT) AS n_bpe_tokens
            FROM lw JOIN enc USING (w) GROUP BY lang
        ),
        nd AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        )
        SELECT lang, n_docs, n_words, n_chars, n_bpe_tokens,
               n_bpe_tokens / CAST(n_words AS DOUBLE) AS tokens_per_word,
               n_chars / CAST(n_bpe_tokens AS DOUBLE) AS chars_per_token
        FROM nd JOIN per_lang USING (lang)
    """
)


_BPE_ENCODE_SQL = (
    """
        WITH w0 AS (
            SELECT w, count(*) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE w <> '' GROUP BY w
        ),
        v0 AS (
            SELECT w, cnt,
                   chr(1) || regexp_replace(w, '(.)', '\\1' || chr(1), 'g') AS s
            FROM w0
        ),"""
    + ",".join(_bpe_iteration_ctes(k) for k in range(1, _BPE_MERGES + 1))
    + f""",
        enc AS (
            SELECT w,
                   len(list_filter(string_split(s, chr(1)), x -> x <> ''))
                       AS n_syms
            FROM v{_BPE_MERGES}
        ),
        dw AS (
            SELECT doc_id, w, count(*) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> '' GROUP BY doc_id, w
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_words,
               CAST(sum(c * n_syms) AS BIGINT) AS n_bpe_tokens,
               round(sum(c * length(w))
                     / CAST(sum(c * n_syms) AS DOUBLE), 6) AS chars_per_token
        FROM dw JOIN enc USING (w)
        GROUP BY doc_id
    """
)

# DuckDB mirror of the _doc_surprisal kernel — shared by the
# docs_unigram_surprisal and docs_ccnet_buckets oracles exactly as the
# Spark kernel is shared by both queries (one formula, zero drift).
_DOC_SURPRISAL_SQL = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    counts AS (
        SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
    ),
    vocab AS (
        SELECT w, count(*) AS cf FROM tok GROUP BY w
    ),
    tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS tot FROM vocab)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(CAST(round(
               sum(c * -log2(cf / tot)) / CAST(sum(c) AS DOUBLE), 6
           ) AS DECIMAL(38,6)) AS DOUBLE) AS surprisal
    FROM counts JOIN vocab USING (w), tot
    GROUP BY doc_id
"""

# RE2 character class for the invisible-codepoint strip, generated from
# the same tuple the Spark-side compiled regex uses
_INVISIBLE_RE2 = (
    "[" + "".join(f"\\x{{{c:x}}}" for c in _INVISIBLE_CODEPOINTS) + "]"
)

# Temperature-mix oracle core — shared VERBATIM by the
# docs_lang_temperature_mix oracle and the docs_mixture_sample oracle
# (which realizes the mix), the one-formula-zero-drift convention.
_TEMP_MIX_SQL = f"""
        WITH per_lang AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(list_filter(string_split(text, ' '),
                                            x -> x <> ''))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY lang
        ),
        tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM per_lang),
        shared AS (
            SELECT lang, n_docs, n_tokens, n_tokens / tot AS share,
                   pow(n_tokens / tot, {_MIX_TEMPERATURE}) AS p
            FROM per_lang, tot
        ),
        ptot AS (SELECT sum(p) AS ptot FROM shared)
        SELECT lang, n_docs, n_tokens, share,
               CAST(CAST(round(p / nullif(ptot, 0), 6) AS DECIMAL(38,6))
                    AS DOUBLE) AS temp_share,
               CAST(CAST(round((p / nullif(ptot, 0)) / nullif(share, 0), 6)
                         AS DECIMAL(38,6)) AS DOUBLE) AS sample_factor
        FROM shared, ptot
"""

ORACLE_SQL = {
    "token_bpe_merges": _BPE_SQL,
    "token_bpe_encode": _BPE_ENCODE_SQL,
    "token_fertility_by_lang": _BPE_FERTILITY_SQL,
    "docs_lang_temperature_mix": _TEMP_MIX_SQL,
    "docs_mixture_sample": f"""
        WITH mix AS ({_TEMP_MIX_SQL}),
        budget AS (
            SELECT CAST(floor(sum(n_tokens) / {_MIX_BUDGET_DIV}) AS BIGINT)
                AS b
            FROM mix
        ),
        quota AS (
            SELECT lang,
                   CAST(floor(temp_share * CAST(b AS DOUBLE)) AS BIGINT)
                       AS quota_tokens
            FROM mix, budget
        ),
        d AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS BIGINT)
                       AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS priority
            FROM documents
        ),
        c AS (
            SELECT doc_id, lang, n_tokens, priority,
                   CAST(sum(n_tokens) OVER (PARTITION BY lang
                                            ORDER BY priority, doc_id)
                        AS BIGINT) AS cum_tokens
            FROM d
        )
        SELECT c.doc_id, c.lang, c.n_tokens, c.priority, c.cum_tokens,
               q.quota_tokens, c.cum_tokens <= q.quota_tokens AS selected
        FROM c JOIN quota q USING (lang)
    """,
    "token_vocab_coverage": f"""
        WITH tok AS (
            SELECT doc_id, w
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> ''
        ),
        vocab AS (
            SELECT w FROM (
                SELECT w, count(*) AS cnt FROM tok GROUP BY w
            ) ORDER BY cnt DESC, w ASC LIMIT {_VOCAB_TOPK}
        ),
        per_doc AS (
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT)
                       AS n_oov,
                   CAST(count(DISTINCT CASE WHEN v.w IS NULL THEN t.w END)
                        AS BIGINT) AS n_distinct_oov
            FROM tok t LEFT JOIN vocab v ON t.w = v.w
            GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               COALESCE(p.n_oov, 0) AS n_oov,
               COALESCE(p.n_distinct_oov, 0) AS n_distinct_oov,
               COALESCE(p.n_oov, 0)
                   / CAST(nullif(p.n_tokens, 0) AS DOUBLE) AS oov_rate
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    "docs_unicode_normalize": f"""
        WITH n AS (
            -- edge trim is the anchored ASCII-space regex, NOT trim():
            -- DuckDB's trim strips Unicode spaces (NBSP) that the
            -- pinned space-only semantics keep
            SELECT doc_id, text,
                   regexp_replace(regexp_replace(
                       regexp_replace(nfc_normalize(text),
                                      '{_INVISIBLE_RE2}', '', 'g'),
                       '[ \\t\\n\\r\\f]+', ' ', 'g'),
                       '^ +| +$', '', 'g') AS norm_text
            FROM documents
        )
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_before,
               CAST(length(norm_text) AS BIGINT) AS n_chars_after,
               norm_text <> text AS changed,
               norm_text
        FROM n
    """,
    "docs_token_entropy": """
        WITH counts AS (
            SELECT doc_id, w, count(*) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> '' GROUP BY doc_id, w
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(CAST(round(
                   log2(CAST(sum(c) AS DOUBLE))
                   - sum(c * log2(CAST(c AS DOUBLE)))
                     / CAST(sum(c) AS DOUBLE), 6)
                   AS DECIMAL(38,6)) AS DOUBLE) AS entropy
        FROM counts GROUP BY doc_id
    """,
    "token_count_min": f"""
        WITH counts AS (
            SELECT w, count(*) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
            WHERE w <> '' GROUP BY w
        ),
        cells AS (
            SELECT w, cnt, r.row,
                   CAST(('0x' || substr(md5('r' || r.row || ':' || w), 1, 8))
                        AS BIGINT) % {_CMS_WIDTH} AS bucket
            FROM counts, (SELECT unnest(range(1, {_CMS_ROWS + 1})) AS row) r
        ),
        sketch AS (
            SELECT row, bucket, CAST(sum(cnt) AS BIGINT) AS cell_sum
            FROM cells GROUP BY row, bucket
        )
        SELECT c.w,
               CAST(max(c.cnt) AS BIGINT) AS exact_count,
               min(s.cell_sum) AS est_count,
               min(s.cell_sum) - CAST(max(c.cnt) AS BIGINT) AS overcount
        FROM cells c JOIN sketch s ON c.row = s.row AND c.bucket = s.bucket
        GROUP BY c.w
    """,
    "docs_linear_classifier": f"""
        WITH tok AS (
            SELECT doc_id, w, count(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> '' GROUP BY doc_id, w
        ),
        vocab AS (
            SELECT w,
                   CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)
                       - {1 << 31} AS wt
            FROM (SELECT DISTINCT w FROM tok)
        ),
        scored AS (
            SELECT doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_tokens,
                   CAST(sum(cnt * wt) AS BIGINT) AS num
            FROM tok JOIN vocab USING (w) GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               num / n_tokens / {float(1 << 31)} AS score,
               num / n_tokens / {float(1 << 31)} > {_CLS_THRESHOLD} AS keep
        FROM scored
    """,
    "docs_winnowing": f"""
        WITH g AS (
            SELECT doc_id,
                   length(text) - {_WINNOW_K - 1} AS n_grams,
                   i,
                   md5(substr(text, CAST(i AS INT), {_WINNOW_K})) AS h
            FROM documents,
                 unnest(range(1, greatest(length(text) - {_WINNOW_K - 1}, 1) + 1))
                     AS t(i)
        ),
        sel AS (
            SELECT doc_id, n_grams, i,
                   min(h || lpad(CAST(i AS VARCHAR), 10, '0')) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW
                                AND {_WINNOW_W - 1} FOLLOWING) AS s
            FROM g
        )
        SELECT DISTINCT doc_id,
               CAST(substr(s, 33, 10) AS BIGINT) AS pos,
               substr(s, 1, 32) AS fp
        FROM sel
        WHERE i <= n_grams - {_WINNOW_W - 1}
    """,
    "docs_unigram_surprisal": f"""
        SELECT doc_id, n_tokens, surprisal,
               surprisal BETWEEN {_SURPRISAL_LO} AND {_SURPRISAL_HI} AS keep
        FROM ({_DOC_SURPRISAL_SQL})
    """,
    "docs_ccnet_buckets": f"""
        WITH s AS ({_DOC_SURPRISAL_SQL}),
        t AS (
            SELECT d.lang, s.n_tokens, s.surprisal,
                   ntile(3) OVER (
                       PARTITION BY d.lang
                       ORDER BY s.surprisal ASC, s.doc_id ASC
                   ) AS tile
            FROM s JOIN documents d USING (doc_id)
        )
        SELECT lang,
               CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               min(surprisal) AS min_surprisal,
               max(surprisal) AS max_surprisal
        FROM t
        GROUP BY lang, bucket
    """,
    "docs_quality_psi_drift": f"""
        WITH binned AS (
            SELECT source,
                   least(CAST(floor((
                       least(1.0, length(text) / 500.0) * 0.5
                       + len(list_distinct(string_split(text, ' ')))
                         / CAST(length(text) - length(replace(text, ' ', ''))
                                + 1 AS DOUBLE) * 0.5
                   ) * {_PSI_BINS}) AS INT), {_PSI_BINS - 1}) AS bin
            FROM documents
        ),
        counts AS (
            SELECT source, bin, count(*) AS cnt
            FROM binned GROUP BY source, bin
        ),
        grid AS (
            SELECT source, n_docs, t.b AS bin
            FROM (SELECT source, count(*) AS n_docs
                  FROM binned GROUP BY source),
                 unnest(range(0, {_PSI_BINS})) AS t(b)
        ),
        filled AS (
            SELECT g.source, g.bin, g.n_docs,
                   (COALESCE(c.cnt, 0) + 1)
                       / CAST(g.n_docs + {_PSI_BINS} AS DOUBLE) AS p
            FROM grid g
            LEFT JOIN counts c ON g.source = c.source AND g.bin = c.bin
        ),
        ref AS (
            SELECT bin, p AS p_ref FROM filled
            WHERE source = '{_PSI_REF_SOURCE}'
        )
        SELECT f.source,
               CAST(max(f.n_docs) AS BIGINT) AS n_docs,
               CAST(CAST(round(
                   sum((f.p - r.p_ref) * ln(f.p / r.p_ref)), 6
               ) AS DECIMAL(38,6)) AS DOUBLE) AS psi
        FROM filled f JOIN ref r USING (bin)
        GROUP BY f.source
    """,
    "token_bigram_surprisal": f"""
        WITH tok AS (
            SELECT doc_id, t.i AS pos, s.parts[t.i] AS w
            FROM (SELECT doc_id, string_split(text, ' ') AS parts
                  FROM documents) s,
                 unnest(range(1, len(s.parts) + 1)) AS t(i)
        ),
        big AS (
            SELECT doc_id, w1, w2 FROM (
                SELECT doc_id,
                       lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                       w AS w2
                FROM tok
            ) WHERE w1 IS NOT NULL
        ),
        dbig AS (
            SELECT doc_id, w1, w2, count(*) AS cdoc
            FROM big GROUP BY doc_id, w1, w2
        ),
        cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
        cx AS (SELECT w1, sum(cb) AS cx FROM cb GROUP BY w1),
        uni AS (SELECT w, count(*) AS cf FROM tok GROUP BY w),
        tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS tot FROM uni)
        SELECT doc_id,
               CAST(sum(cdoc) AS BIGINT) AS n_bigrams,
               CAST(CAST(round(
                   sum(cdoc * -log2({_BIGRAM_LAMBDA} * (cb / cx)
                                    + {1 - _BIGRAM_LAMBDA} * (cf / tot)))
                   / CAST(sum(cdoc) AS DOUBLE), 6
               ) AS DECIMAL(38,6)) AS DOUBLE) AS bigram_surprisal
        FROM dbig
        JOIN cb USING (w1, w2)
        JOIN cx USING (w1)
        JOIN uni ON uni.w = dbig.w2, tot
        GROUP BY doc_id
    """,
    "docs_word_pmi": f"""
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        tok AS (
            SELECT DISTINCT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents
            )
        ),
        dfw AS (SELECT w, count(*) AS df FROM tok GROUP BY w),
        elig AS (
            SELECT w, df FROM dfw CROSS JOIN n
            WHERE df * 100 >= n_docs * {_PMI_DF_PCT}
        ),
        tokf AS (SELECT t.doc_id, t.w FROM tok t JOIN elig e ON e.w = t.w),
        pairs AS (
            SELECT a.w AS w_a, b.w AS w_b, count(*) AS n_pair_docs
            FROM tokf a JOIN tokf b
              ON a.doc_id = b.doc_id AND a.w < b.w
            GROUP BY a.w, b.w
        )
        SELECT p.w_a, p.w_b,
               CAST(p.n_pair_docs AS BIGINT) AS n_pair_docs,
               CAST(ea.df AS BIGINT) AS df_a,
               CAST(eb.df AS BIGINT) AS df_b,
               CAST(CAST(round(log2(
                   (CAST(p.n_pair_docs AS DOUBLE) * CAST(n.n_docs AS DOUBLE))
                   / (CAST(ea.df AS DOUBLE) * CAST(eb.df AS DOUBLE))
               ), 6) AS DECIMAL(38,6)) AS DOUBLE) AS pmi
        FROM pairs p
        CROSS JOIN n
        JOIN elig ea ON ea.w = p.w_a
        JOIN elig eb ON eb.w = p.w_b
        WHERE p.n_pair_docs * 100 >= n.n_docs * {_PMI_PAIR_PCT}
    """,
    "docs_dsir_weights": f"""
        WITH tok AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        stats AS (
            SELECT count(DISTINCT w) AS v,
                   sum(CASE WHEN source = '{_BENCH_SOURCE}' THEN 1 ELSE 0 END)
                       AS tt,
                   sum(CASE WHEN source <> '{_BENCH_SOURCE}' THEN 1 ELSE 0 END)
                       AS tr
            FROM tok
        ),
        ct AS (
            SELECT w, count(*) AS ct FROM tok
            WHERE source = '{_BENCH_SOURCE}' GROUP BY w
        ),
        cr AS (
            SELECT w, count(*) AS cr FROM tok
            WHERE source <> '{_BENCH_SOURCE}' GROUP BY w
        ),
        cdoc AS (
            SELECT doc_id, source, w, count(*) AS c FROM tok
            WHERE source <> '{_BENCH_SOURCE}' GROUP BY doc_id, source, w
        )
        SELECT doc_id, source,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(CAST(round(
                   sum(c * (log2((COALESCE(ct, 0) + 1)
                                 / CAST(tt + v AS DOUBLE))
                            - log2((cr + 1) / CAST(tr + v AS DOUBLE))))
                   / CAST(sum(c) AS DOUBLE), 6
               ) AS DECIMAL(38,6)) AS DOUBLE) AS dsir_logweight
        FROM cdoc
        LEFT JOIN ct USING (w)
        JOIN cr USING (w), stats
        GROUP BY doc_id, source
    """,
    "docs_pii_scan": f"""
        SELECT doc_id,
               source,
               CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT)
                   AS n_phones,
               CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT)
                   AS n_ips,
               (len(regexp_extract_all(text, '{_PII_EMAIL}'))
                + len(regexp_extract_all(text, '{_PII_PHONE}'))
                + len(regexp_extract_all(text, '{_PII_IP}'))) > 0 AS has_pii,
               md5(regexp_replace(
                   regexp_replace(
                       regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g'),
                   '{_PII_IP}', '<IP>', 'g')) AS redacted_md5
        FROM documents
    """,
    "token_zipf_audit": f"""
        WITH vocab AS (
            SELECT token, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY token
        ),
        tot AS (
            SELECT CAST(sum(freq) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS vocab_size
            FROM vocab
        )
        SELECT rank, token, freq, cum_freq,
               freq / CAST(tot AS DOUBLE) AS token_share,
               cum_freq / CAST(tot AS DOUBLE) AS cum_share,
               vocab_size
        FROM (
            SELECT CAST(row_number() OVER (
                       ORDER BY freq DESC, token) AS INT) AS rank,
                   token, freq,
                   CAST(sum(freq) OVER (
                       ORDER BY freq DESC, token
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq,
                   tot, vocab_size
            FROM vocab CROSS JOIN tot
        )
        WHERE rank <= {_ZIPF_TOP}
    """,
    "token_bigram_stats": """
        WITH grams AS (
            SELECT doc_id, unnest(list_transform(range(1, len(t)),
                   i -> t[i] || ' ' || t[i + 1])) AS g
            FROM (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents)
        ),
        per_doc AS (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
            FROM grams GROUP BY doc_id, g
        ),
        corpus AS (
            SELECT g, CAST(sum(c) AS BIGINT) AS cf
            FROM per_doc GROUP BY g
        ),
        stats AS (
            SELECT CAST(sum(cf) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS nd
            FROM corpus
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_bigrams,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(c * cf) AS BIGINT) AS sum_corpus_freq,
               CAST(sum(CASE WHEN cf * nd >= tot THEN c ELSE 0 END)
                    AS BIGINT) AS n_common,
               CAST(sum(c * cf) AS BIGINT)
                   / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)
                   AS avg_corpus_freq,
               CAST(sum(CASE WHEN cf * nd >= tot THEN c ELSE 0 END)
                    AS BIGINT)
                   / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)
                   AS common_frac
        FROM per_doc JOIN corpus USING (g) CROSS JOIN stats
        GROUP BY doc_id
    """,
    "docs_pack_bins": f"""
        SELECT doc_id, shard, n_tokens, cum_tokens,
               CAST((cum_tokens - n_tokens) // {_PACK_BIN_TOKENS} AS INT) AS bin_id
        FROM (
            SELECT doc_id,
                   CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                   CAST(sum(len(string_split(text, ' '))) OVER (
                       PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS cum_tokens
            FROM documents
        )
    """,
    # pack-budget sweep: docs_pack_bins' shard/cumulative/bin algebra
    # verbatim with the budget as a per-row grid value.
    # sum(CAST(flag AS INT)) mirrors Spark's NULL-skipping sum (a
    # NULL-text doc yields a NULL bin row whose comparisons are NULL).
    "docs_pack_tuning": f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                   CAST(sum(len(string_split(text, ' '))) OVER (
                       PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS cum_tokens
            FROM documents
        ),
        grid AS (SELECT unnest({list(_PACK_TUNE_BUDGETS)}) AS budget),
        binned AS (
            SELECT budget, shard,
                   CAST((cum_tokens - n_tokens) // budget AS INT) AS bin_id,
                   CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM base, grid
            GROUP BY budget, shard,
                     CAST((cum_tokens - n_tokens) // budget AS INT)
        )
        SELECT budget,
               CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(n_docs) AS BIGINT) AS n_docs,
               CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
               sum(bin_tokens)
                   / CAST(count(*) * budget AS DOUBLE) AS avg_fill_ratio,
               CAST(sum(CAST(bin_tokens > budget AS INT)) AS BIGINT)
                   AS overflow_bins,
               CAST(sum(greatest(bin_tokens - budget, 0)) AS BIGINT)
                   AS overflow_tokens,
               CAST(max(bin_tokens) AS BIGINT) AS max_bin_tokens
        FROM binned GROUP BY budget
    """,
    "docs_source_mix": """
        SELECT source, n_docs, n_tokens,
               n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS token_share,
               (1.0 / CAST(count(*) OVER () AS DOUBLE))
                   / (n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE))
                   AS uniform_mix_factor
        FROM (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents
            GROUP BY source
        )
    """,
    "docs_chunks": f"""
        WITH base AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM documents
        ),
        numbered AS (
            SELECT doc_id, lang, toks,
                   unnest(range(0, (len(toks) - 1) // {_CHUNK_STRIDE} + 1)) AS chunk_id
            FROM base
        ),
        chunked AS (
            SELECT doc_id, lang, CAST(chunk_id AS INT) AS chunk_id,
                   array_to_string(
                       list_slice(toks, chunk_id * {_CHUNK_STRIDE} + 1,
                                  chunk_id * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}),
                       ' ') AS chunk_text
            FROM numbered
        )
        SELECT doc_id, lang, chunk_id,
               CAST(len(string_split(chunk_text, ' ')) AS INT) AS chunk_tokens,
               CAST(length(chunk_text) AS BIGINT) AS chunk_chars,
               md5(chunk_text) AS chunk_hash
        FROM chunked
    """,
    "docs_train_split": f"""
        SELECT lang, split, count(*) AS n_docs,
               round(avg(n_chars), 2) AS avg_chars
        FROM (
            SELECT lang, n_chars,
                   CASE WHEN {_SPLIT_BUCKET_SQL} < 'cc' THEN 'train'
                        WHEN {_SPLIT_BUCKET_SQL} < 'e6' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        GROUP BY lang, split
    """,
    "docs_stratified_sample": f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE {_SPLIT_BUCKET_SQL} < '33'
    """,
    "docs_weighted_sample": f"""
        WITH keyed AS (
            SELECT doc_id, lang, source, n_chars,
                   round(
                       ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 8)) AS BIGINT) + 1.0)
                          / {float(1 << 32)})
                       / CAST(n_chars AS DOUBLE), 6) AS sample_key
            FROM documents
            WHERE n_chars > 0
        ),
        top AS (
            SELECT * FROM keyed
            ORDER BY sample_key DESC, doc_id ASC LIMIT {_WSAMPLE_K}
        )
        SELECT CAST(row_number() OVER (ORDER BY sample_key DESC, doc_id ASC)
                    AS INT) AS rank,
               doc_id, lang, source, n_chars, sample_key
        FROM top
    """,
    "docs_bm25_search": _bm25_sql(_BM25_TERMS),
    "docs_text_stats": """
        SELECT doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
               length(replace(text, ' ', ''))
                     / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
                   AS avg_token_len,
               len(list_distinct(string_split(text, ' ')))
                     / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
                   AS type_token_ratio
        FROM documents
    """,
    "docs_lang_id": f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        agg AS (
            SELECT doc_id, lang, count(*) AS n_tokens,
                   -- BIGINT cast: DuckDB sum(int) is HUGEINT, which pandas
                   -- renders as float64 and the driver's value-hash then
                   -- sees 10.0 vs Spark's 10
                   CAST(sum(CASE WHEN w IN ({_STOP_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords
            FROM tok
            GROUP BY doc_id, lang
        )
        SELECT doc_id, lang AS declared_lang, n_tokens, n_stopwords,
               n_stopwords / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
               CASE WHEN n_stopwords / CAST(n_tokens AS DOUBLE) >= 0.05
                    THEN 'en' ELSE 'other' END AS predicted_lang
        FROM agg
    """,
    "docs_lang_confusion": f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        ),
        agg AS (
            SELECT doc_id, lang, count(*) AS n_tokens,
                   CAST(sum(CASE WHEN w IN ({_STOP_SQL}) THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_stopwords
            FROM tok
            GROUP BY doc_id, lang
        ),
        per_doc AS (
            SELECT lang AS declared_lang,
                   CASE WHEN n_stopwords / CAST(n_tokens AS DOUBLE) >= 0.05
                        THEN 'en' ELSE 'other' END AS predicted_lang
            FROM agg
        )
        SELECT declared_lang, predicted_lang,
               count(*) AS n_docs,
               count(*) / CAST(sum(count(*)) OVER (PARTITION BY declared_lang)
                               AS DOUBLE) AS share_of_declared
        FROM per_doc
        GROUP BY declared_lang, predicted_lang
    """,
    "docs_quality_score": """
        SELECT doc_id, lang,
               least(1.0, length(text) / 500.0) AS len_score,
               len(list_distinct(string_split(text, ' ')))
                     / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
                   AS uniq_ratio,
               least(1.0, length(text) / 500.0) * 0.5
                     + len(list_distinct(string_split(text, ' ')))
                       / CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) * 0.5
                   AS quality_score
        FROM documents
    """,
    "docs_content_fingerprint": """
        SELECT doc_id,
               md5(lower(trim(text))) AS fingerprint,
               substr(md5(lower(trim(text))), 1, 2) AS fp_bucket,
               n_chars
        FROM documents
    """,
    "docs_token_counts": f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
               CAST(len(list_distinct(regexp_extract_all(lower(text), '{_BPE_RE}'))) AS BIGINT)
                   AS n_distinct_bpe
        FROM documents
    """,
    "token_frequencies": f"""
        SELECT token, count(*) AS n_occurrences
        FROM (
            SELECT unnest(regexp_extract_all(lower(text), '{_BPE_RE}')) AS token
            FROM documents
        )
        GROUP BY token
        ORDER BY n_occurrences DESC, token ASC
        LIMIT 100
    """,
    # token_heavy_hitters (graduated r10, the GK/HLL-audit pattern):
    # the Misra-Gries guarantees are deterministic even though the
    # surviving counters are not — the oracle states the exact
    # guaranteed-token set (integer-exact threshold, no division) and
    # TRUE for both published bounds.
    "token_heavy_hitters": f"""
        WITH tf AS (
            SELECT token, CAST(count(*) AS BIGINT) AS exact_count
            FROM (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents
                WHERE text IS NOT NULL
            )
            WHERE token <> ''
            GROUP BY token
        ),
        tot AS (SELECT CAST(sum(exact_count) AS BIGINT) AS n_total FROM tf)
        SELECT token, exact_count,
               TRUE AS reported_ok, TRUE AS bound_ok
        FROM tf, tot
        WHERE exact_count * {_MG_COUNTERS + 1} > n_total
    """,
    "docs_gopher_rules": f"""
        WITH m AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   list_sum(list_transform(string_split(text, ' '),
                                           w -> length(w)))
                       / CAST(len(string_split(text, ' ')) AS DOUBLE)
                       AS mean_word_len,
                   len(list_filter(string_split(text, ' '),
                                   w -> regexp_matches(w, '[a-zA-Z]')))
                       / CAST(len(string_split(text, ' ')) AS DOUBLE)
                       AS alpha_frac,
                   (length(text) - length(replace(text, '#', '')))
                       / CAST(len(string_split(text, ' ')) AS DOUBLE)
                       AS symbol_ratio,
                   len(list_filter(string_split(text, ' '),
                                   w -> w IN {_GOPHER_STOPWORDS}))
                       AS n_stopwords
            FROM documents
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               mean_word_len, alpha_frac, symbol_ratio,
               CAST(n_stopwords AS BIGINT) AS n_stopwords,
               n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                   AS rule_words,
               mean_word_len BETWEEN {_GOPHER_MEAN_LEN_LO}
                   AND {_GOPHER_MEAN_LEN_HI} AS rule_mean_len,
               alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC} AS rule_alpha,
               symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO} AS rule_symbol,
               n_stopwords >= {_GOPHER_MIN_STOPWORDS} AS rule_stop,
               (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
                   AND (mean_word_len BETWEEN {_GOPHER_MEAN_LEN_LO}
                        AND {_GOPHER_MEAN_LEN_HI})
                   AND alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}
                   AND symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO}
                   AND n_stopwords >= {_GOPHER_MIN_STOPWORDS} AS keep
        FROM m
    """,
    "docs_c4_line_filter": f"""
        WITH w AS (
            SELECT doc_id, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
            FROM documents
        ),
        lined AS (
            SELECT doc_id, text, {_C4_LINES_SQL} AS lines FROM w
        )
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(list_filter(lines,
                        l -> len(l) < {_C4_MIN_LINE_WORDS})) AS BIGINT)
                   AS n_short_lines,
               CAST(len(list_filter(lines,
                        l -> len(list_filter(l,
                                 x -> lower(x) = 'javascript')) > 0))
                   AS BIGINT) AS n_js_lines,
               CAST(len(list_filter(lines,
                        l -> len(l) > 0
                             AND regexp_matches(l[-1], '[.!?"]$')))
                   AS BIGINT) AS n_punct_lines,
               CAST(len(list_filter(lines,
                        l -> len(l) >= {_C4_MIN_LINE_WORDS}
                             AND len(list_filter(l,
                                     x -> lower(x) = 'javascript')) = 0))
                   AS BIGINT) AS n_kept_lines,
               CAST(CASE WHEN lines IS NULL THEN NULL
                         ELSE coalesce(list_sum(list_transform(
                                  list_filter(lines,
                                      l -> len(l) >= {_C4_MIN_LINE_WORDS}
                                           AND len(list_filter(l,
                                                   x -> lower(x)
                                                        = 'javascript')) = 0),
                                  l -> len(l))), 0)
                    END AS BIGINT) AS kept_words,
               contains(lower(text), 'lorem ipsum') AS page_has_lorem,
               contains(text, '{{') AS page_has_brace,
               len(lines) >= {_C4_MIN_PAGE_LINES}
                   AND NOT contains(lower(text), 'lorem ipsum')
                   AND NOT contains(text, '{{') AS page_keep
        FROM lined
    """,
    # punct gate: the SAME _C4_LINES_SQL grain over the punctuation-
    # injected rewrite; the keep rule folds the paper's terminal-
    # punctuation retention in beside the word-count and javascript
    # rules, and kept_md5 value-checks the surviving text corpus-wide.
    "docs_c4_punct_gate": f"""
        WITH w AS (
            SELECT doc_id,
                   CAST({_C4_PUNCT_K_BASE} + doc_id % {_C4_PUNCT_K_MOD}
                        AS INT) AS k,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws0
            FROM documents
        ),
        p AS (
            SELECT doc_id, k,
                   list_transform(range(1, len(ws0) + 1),
                       i -> ws0[i]
                            || CASE WHEN i % k = 0 THEN '.' ELSE '' END)
                       AS ws
            FROM w
        ),
        lined AS (SELECT doc_id, k, {_C4_LINES_SQL} AS lines FROM p),
        kept AS (
            SELECT doc_id, k, lines,
                   list_filter(lines,
                       l -> len(l) >= {_C4_MIN_LINE_WORDS}
                            AND len(list_filter(l,
                                    x -> lower(x) = 'javascript')) = 0
                            AND len(l) > 0
                            AND regexp_matches(l[-1], '[.!?"]$')) AS kl
            FROM lined
        )
        SELECT doc_id,
               k AS punct_every_k,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(list_filter(lines,
                        l -> len(l) > 0
                             AND regexp_matches(l[-1], '[.!?"]$')))
                   AS BIGINT) AS n_punct_lines,
               CAST(len(kl) AS BIGINT) AS n_kept_lines,
               CAST(CASE WHEN kl IS NULL THEN NULL
                         ELSE coalesce(list_sum(list_transform(
                                  kl, l -> len(l))), 0)
                    END AS BIGINT) AS kept_words,
               CASE WHEN kl IS NULL THEN NULL
                    ELSE md5(coalesce(array_to_string(list_transform(
                             kl, l -> array_to_string(l, ' ')), ' '), ''))
               END AS kept_md5,
               len(kl) >= {_C4_MIN_PAGE_LINES} AS page_keep
        FROM kept
    """,
    "docs_repetition_filter": f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
        top AS (
            SELECT doc_id, max(c) / CAST(sum(c) AS DOUBLE) AS top_token_frac
            FROM cnt GROUP BY doc_id
        ),
        dup AS (
            SELECT doc_id, source,
                   1.0 - len(list_distinct(bi)) / CAST(len(bi) AS DOUBLE)
                       AS dup_bigram_frac
            FROM (
                SELECT doc_id, source,
                       list_transform(range(1, len(string_split(text, ' '))),
                           i -> string_split(text, ' ')[i] || ' '
                                || string_split(text, ' ')[i + 1]) AS bi
                FROM documents
            )
        )
        SELECT d.doc_id, d.source, t.top_token_frac, d.dup_bigram_frac,
               (t.top_token_frac <= {_REP_TOP_FRAC}
                AND d.dup_bigram_frac <= {_REP_DUP_BIGRAM}) AS keep
        FROM dup d JOIN top t ON d.doc_id = t.doc_id
    """,
    "docs_pipeline_e2e": f"""
        WITH q AS (
            SELECT doc_id, text, lang, source FROM documents
            WHERE least(1.0, length(text) / 500.0) * 0.5
                  + len(list_distinct(string_split(text, ' ')))
                    / CAST(length(text) - length(replace(text, ' ', '')) + 1
                           AS DOUBLE) * 0.5
                  >= {_PIPE_MIN_QUALITY}
        ),
        d AS (
            SELECT doc_id, text, lang, source FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
                FROM q
            ) WHERE rn = 1
        ),
        g AS (
            SELECT doc_id, {_GRAM_UNNEST_SQL}
            FROM d
        ),
        dfc AS (
            SELECT gram, count(*) AS df FROM g
            WHERE gram IS NOT NULL GROUP BY gram
        ),
        per AS (
            SELECT g.doc_id, count(g.gram) AS n_grams,
                   CAST(sum(CASE WHEN dfc.df >= {_BOILER_MIN_DF}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
            FROM g LEFT JOIN dfc ON g.gram = dfc.gram
            GROUP BY g.doc_id
        ),
        kept AS (
            SELECT d.* FROM d JOIN per ON d.doc_id = per.doc_id
            WHERE per.n_grams = 0
               OR per.n_shared / CAST(per.n_grams AS DOUBLE)
                  <= {_BOILER_MAX_FRAC}
        ),
        numbered AS (
            SELECT doc_id, lang, source, string_split(text, ' ') AS toks,
                   unnest(range(0, (len(string_split(text, ' ')) - 1)
                                   // {_CHUNK_STRIDE} + 1)) AS chunk_id
            FROM kept
        ),
        chunked AS (
            SELECT doc_id, lang, source, CAST(chunk_id AS INT) AS chunk_id,
                   array_to_string(
                       list_slice(toks, chunk_id * {_CHUNK_STRIDE} + 1,
                                  chunk_id * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}),
                       ' ') AS chunk_text
            FROM numbered
        )
        SELECT doc_id, lang, source, chunk_id,
               CAST(len(string_split(chunk_text, ' ')) AS INT) AS chunk_tokens,
               md5(chunk_text) AS chunk_hash
        FROM chunked
    """,
    "docs_boilerplate_ngrams": f"""
        WITH g AS (
            SELECT doc_id, source, {_GRAM_UNNEST_SQL}
            FROM documents
        ),
        dfc AS (
            SELECT gram, count(*) AS df FROM g
            WHERE gram IS NOT NULL GROUP BY gram
        ),
        per AS (
            SELECT g.doc_id, g.source,
                   count(g.gram) AS n_grams,
                   CAST(sum(CASE WHEN dfc.df >= {_BOILER_MIN_DF}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
            FROM g LEFT JOIN dfc ON g.gram = dfc.gram
            GROUP BY g.doc_id, g.source
        )
        SELECT doc_id, source, n_grams, n_shared,
               CASE WHEN n_grams = 0 THEN 0.0
                    ELSE n_shared / CAST(n_grams AS DOUBLE) END AS shared_frac,
               (CASE WHEN n_grams = 0 THEN 0.0
                     ELSE n_shared / CAST(n_grams AS DOUBLE) END)
                   <= {_BOILER_MAX_FRAC} AS keep
        FROM per
    """,
    "docs_common_spans": f"""
        WITH g AS (
            SELECT doc_id, {_GRAM_UNNEST_SQL}
            FROM documents
        )
        SELECT gram, count(*) AS n_docs
        FROM g WHERE gram IS NOT NULL
        GROUP BY gram
        HAVING count(*) >= {_BOILER_MIN_DF}
        ORDER BY n_docs DESC, gram ASC
        LIMIT {_COMMON_SPANS_K}
    """,
    "docs_contamination": f"""
        WITH g AS (
            SELECT doc_id, source, {_GRAM_UNNEST_SQL}
            FROM documents
        ),
        bench AS (SELECT DISTINCT gram FROM g WHERE source = '{_BENCH_SOURCE}'),
        ev AS (
            SELECT doc_id, source,
                   count(gram) AS n_grams,
                   count(*) FILTER (gram IN (SELECT gram FROM bench))
                       AS n_contaminated
            FROM g WHERE source <> '{_BENCH_SOURCE}'
            GROUP BY doc_id, source
        )
        SELECT doc_id, source, n_grams, n_contaminated,
               n_contaminated > 0 AS is_contaminated
        FROM ev
    """,
    "token_tfidf": """
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        ),
        cnt AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
        doclen AS (SELECT doc_id, sum(cnt) AS len FROM cnt GROUP BY doc_id),
        df AS (SELECT w, count(*) AS df FROM cnt GROUP BY w),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
            SELECT c.doc_id, c.w, c.cnt, df.df,
                   (c.cnt / CAST(l.len AS DOUBLE))
                       * (n.n_docs / CAST(df.df AS DOUBLE)) AS tfidf
            FROM cnt c
            JOIN doclen l ON c.doc_id = l.doc_id
            JOIN df ON c.w = df.w
            CROSS JOIN n
        )
        SELECT doc_id, w, cnt, df, tfidf, rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, w ASC) AS rank
            FROM scored
        )
        WHERE rank <= 3
    """,
    "docs_rolling_fingerprint": f"""
        SELECT doc_id, roll_hash, CAST(roll_hash % 256 AS INT) AS roll_bucket, n_chars
        FROM (
            SELECT doc_id, n_chars,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN length(text) = 0 THEN 0
                        ELSE list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                                list_transform(range(1, length(text) + 1),
                                               i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
                            (acc, c) -> (acc * {_ROLL_BASE} + c) % {_ROLL_MOD})
                   END AS roll_hash
            FROM documents
        )
    """,
}

# Mixture realization audit: wraps the admission-ledger oracle and the
# temperature-mix oracle VERBATIM as subqueries (the embed_ndcg_audit
# convention — the audit's oracle cannot drift from the stages it
# grades). sum(CAST(selected AS INT)), not CASE: an all-NULL-selected
# language (every doc NULL-text) must aggregate to NULL on both
# engines, matching Spark's NULL-skipping sum over the cast flag.
ORACLE_SQL["docs_mixture_realized_mix"] = f"""
    WITH led AS ({ORACLE_SQL["docs_mixture_sample"]}),
    mix AS ({_TEMP_MIX_SQL}),
    per AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CAST(selected AS INT)) AS BIGINT)
                   AS n_selected_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN selected THEN n_tokens ELSE 0 END)
                    AS BIGINT) AS selected_tokens,
               CAST(min(quota_tokens) AS BIGINT) AS quota_tokens
        FROM led GROUP BY lang
    )
    SELECT p.lang, p.n_docs, p.n_selected_docs, p.n_tokens,
           p.selected_tokens, p.quota_tokens,
           p.selected_tokens
               / CAST(nullif(p.quota_tokens, 0) AS DOUBLE) AS utilization,
           p.selected_tokens
               / CAST(nullif(sum(p.selected_tokens) OVER (), 0) AS DOUBLE)
               AS achieved_share,
           m.temp_share,
           p.selected_tokens
               / CAST(nullif(sum(p.selected_tokens) OVER (), 0) AS DOUBLE)
               - m.temp_share AS share_gap
    FROM per p JOIN mix m USING (lang)
"""

# Composed ingest chain (ST19 batch anchor): gate CTE = the
# docs_gopher_rules keep predicate; lines/keep-first CTEs = the
# docs_c4_line_dedup grain and keeper rule; admission CTEs = the
# docs_mixture_sample quota/window algebra — each stage's SQL mirrors
# its standalone oracle VERBATIM, re-rooted on the prior stage's CTE.
ORACLE_SQL["docs_ingest_chain"] = f"""
    WITH gm AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               list_sum(list_transform(string_split(text, ' '),
                                       w -> length(w)))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS mean_word_len,
               len(list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '[a-zA-Z]')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS alpha_frac,
               (length(text) - length(replace(text, '#', '')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS symbol_ratio,
               len(list_filter(string_split(text, ' '),
                               w -> w IN {_GOPHER_STOPWORDS}))
                   AS n_stopwords
        FROM documents
    ),
    g AS (
        SELECT doc_id FROM gm
        WHERE n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
          AND mean_word_len BETWEEN {_GOPHER_MEAN_LEN_LO}
              AND {_GOPHER_MEAN_LEN_HI}
          AND alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}
          AND symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO}
          AND n_stopwords >= {_GOPHER_MIN_STOPWORDS}
    ),
    w AS (
        SELECT d.doc_id, d.lang,
               list_filter(string_split(d.text, ' '), x -> x <> '') AS ws
        FROM documents d JOIN g USING (doc_id)
    ),
    lined AS (SELECT doc_id, lang, {_C4_LINES_SQL} AS lines FROM w),
    ln AS (
        SELECT doc_id, i - 1 AS line_no,
               array_to_string(lines[i], ' ') AS line
        FROM (SELECT doc_id, lines,
                     unnest(range(1, len(lines) + 1)) AS i
              FROM lined)
    ),
    ktok AS (
        SELECT doc_id,
               CAST(sum(len(string_split(line, ' '))) AS BIGINT)
                   AS kept_tokens
        FROM (SELECT doc_id, line,
                     row_number() OVER (PARTITION BY line
                                        ORDER BY doc_id, line_no) AS rn
              FROM ln)
        WHERE rn = 1 GROUP BY doc_id
    ),
    d AS (
        SELECT l.doc_id, l.lang,
               CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS n_tokens,
               md5(CAST(l.doc_id AS VARCHAR)) AS priority
        FROM lined l LEFT JOIN ktok k USING (doc_id)
    ),
    per_lang AS (
        SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM d GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM per_lang),
    shared AS (
        SELECT lang, n_tokens,
               pow(n_tokens / tot, {_MIX_TEMPERATURE}) AS p
        FROM per_lang, tot
    ),
    ptot AS (SELECT sum(p) AS ptot FROM shared),
    mix AS (
        SELECT lang, n_tokens,
               CAST(CAST(round(p / nullif(ptot, 0), 6) AS DECIMAL(38,6))
                    AS DOUBLE) AS temp_share
        FROM shared, ptot
    ),
    budget AS (
        SELECT CAST(floor(sum(n_tokens) / {_MIX_BUDGET_DIV}) AS BIGINT) AS b
        FROM mix
    ),
    quota AS (
        SELECT lang,
               CAST(floor(temp_share * CAST(b AS DOUBLE)) AS BIGINT)
                   AS quota_tokens
        FROM mix, budget
    ),
    c AS (
        SELECT doc_id, lang, n_tokens, priority,
               CAST(sum(n_tokens) OVER (PARTITION BY lang
                                        ORDER BY priority, doc_id)
                    AS BIGINT) AS cum_tokens
        FROM d
    )
    SELECT c.doc_id, c.lang, c.n_tokens, c.priority, c.cum_tokens,
           q.quota_tokens, c.cum_tokens <= q.quota_tokens AS selected
    FROM c JOIN quota q USING (lang)
"""

# Four-stage chain (r11): the SAME oracle with the recursive-CC
# near-dup leg interposed between the gate and the line stage — built
# MECHANICALLY from the three-stage oracle (WITH becomes RECURSIVE,
# the ND CTEs insert after `g`, and the line stage re-roots on `nd`),
# with the pair SQL reused from dedup VERBATIM modulo the source
# relation name, so no stage formula is restated.
from ..dedup import _SIMHASH_PAIRS_SQL as _ND_PAIRS_SQL  # noqa: E402

_ND_CTES = f"""gated_docs AS (
        SELECT d.doc_id, d.text FROM documents d JOIN g USING (doc_id)
    ),
    p AS MATERIALIZED ({_ND_PAIRS_SQL.replace("FROM documents", "FROM gated_docs")}),
    edges AS (
        SELECT doc_a AS s, doc_b AS t FROM p
        UNION ALL
        SELECT doc_b, doc_a FROM p
    ),
    verts AS (SELECT DISTINCT s AS doc_id FROM edges),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM verts
        UNION
        SELECT e.t, reach.r FROM edges e JOIN reach ON e.s = reach.doc_id
    ),
    lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
    nd AS (
        SELECT g.doc_id FROM g
        WHERE NOT EXISTS (
            SELECT 1 FROM lab
            WHERE lab.doc_id = g.doc_id AND lab.doc_id <> lab.cluster_id
        )
    ),
    """

ORACLE_SQL["docs_ingest_chain_nd"] = (
    ORACLE_SQL["docs_ingest_chain"]
    .replace("WITH gm AS", "WITH RECURSIVE gm AS", 1)
    .replace("    w AS (", "    " + _ND_CTES + "w AS (", 1)
    .replace(
        "FROM documents d JOIN g USING (doc_id)\n"
        "    ),\n"
        "    lined AS",
        "FROM documents d JOIN nd USING (doc_id)\n"
        "    ),\n"
        "    lined AS",
        1,
    )
)
assert "JOIN nd USING" in ORACLE_SQL["docs_ingest_chain_nd"]
assert "WITH RECURSIVE" in ORACLE_SQL["docs_ingest_chain_nd"]


ORACLE_SQL["docs_unimax_mix"] = f"""
    WITH per_lang AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(len(list_filter(string_split(text, ' '),
                                                 x -> x <> ''))), 0)
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang
    ),
    c AS (
        SELECT lang, n_docs, n_tokens,
               CAST(n_tokens * {_UNIMAX_EPOCHS} AS BIGINT) AS cap_tokens
        FROM per_lang
    ),
    o AS (
        SELECT *,
               CAST((sum(n_tokens) OVER () * {_UNIMAX_BUDGET_NUM})
                    // {_UNIMAX_BUDGET_DEN} AS BIGINT) AS budget,
               CAST(count(*) OVER () AS BIGINT) AS n_langs,
               CAST(row_number() OVER (ORDER BY cap_tokens, lang)
                    AS BIGINT) AS i,
               CAST(coalesce(sum(cap_tokens) OVER (
                        ORDER BY cap_tokens, lang
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS csum_prev
        FROM c
    ),
    flagged AS (
        SELECT *,
               cap_tokens * (n_langs - i + 1) + csum_prev < budget AS capped
        FROM o
    ),
    agg AS (
        SELECT *,
               CAST(coalesce(sum(CASE WHEN capped THEN cap_tokens END)
                                 OVER (), 0) AS BIGINT) AS capped_sum,
               CAST(n_langs - sum(CASE WHEN capped THEN 1 ELSE 0 END)
                                     OVER () AS BIGINT) AS n_uncapped
        FROM flagged
    )
    SELECT lang, n_docs, n_tokens, cap_tokens, capped,
           CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
                ELSE (budget - capped_sum) / nullif(n_uncapped, 0)
           END AS alloc_tokens,
           CASE WHEN capped THEN cap_tokens / nullif(n_tokens, 0)
                ELSE (budget - capped_sum)
                     / nullif(n_uncapped * n_tokens, 0)
           END AS epochs_used
    FROM agg
"""

ORACLE_SQL["docs_classifier_pr_curve"] = f"""
    WITH tok AS (
        SELECT doc_id, w, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w <> '' GROUP BY doc_id, w
    ),
    vocab AS (
        SELECT w,
               CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)
                   - {1 << 31} AS wt
        FROM (SELECT DISTINCT w FROM tok)
    ),
    scored AS (
        SELECT doc_id,
               num / n_tokens / {float(1 << 31)} AS score
        FROM (SELECT doc_id,
                     CAST(sum(cnt) AS BIGINT) AS n_tokens,
                     CAST(sum(cnt * wt) AS BIGINT) AS num
              FROM tok JOIN vocab USING (w) GROUP BY doc_id)
    ),
    gm AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               list_sum(list_transform(string_split(text, ' '),
                                       w -> length(w)))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS mean_word_len,
               len(list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '[a-zA-Z]')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS alpha_frac,
               (length(text) - length(replace(text, '#', '')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS symbol_ratio,
               len(list_filter(string_split(text, ' '),
                               w -> w IN {_GOPHER_STOPWORDS}))
                   AS n_stopwords
        FROM documents
    ),
    labels AS (
        SELECT doc_id,
               (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
                   AND (mean_word_len BETWEEN {_GOPHER_MEAN_LEN_LO}
                        AND {_GOPHER_MEAN_LEN_HI})
                   AND alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}
                   AND symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO}
                   AND n_stopwords >= {_GOPHER_MIN_STOPWORDS} AS label
        FROM gm
    ),
    grid AS (
        SELECT unnest([{", ".join(f"CAST({t} AS DOUBLE)"
                                  for t in _PR_THRESHOLDS)}]) AS threshold
    ),
    per AS (
        SELECT threshold,
               CAST(sum(CASE WHEN score > threshold AND label
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN score > threshold AND NOT label
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN NOT score > threshold AND label
                             THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN NOT score > threshold AND NOT label
                             THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM scored JOIN labels USING (doc_id) CROSS JOIN grid
        GROUP BY threshold
    )
    SELECT threshold, tp, fp, fn, tn,
           tp / CAST(nullif(tp + fp, 0) AS DOUBLE) AS precision,
           tp / CAST(nullif(tp + fn, 0) AS DOUBLE) AS recall,
           (2 * tp) / CAST(nullif(2 * tp + fp + fn, 0) AS DOUBLE) AS f1
    FROM per
"""

ORACLE_SQL["docs_unimax_sample"] = f"""
    WITH d AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS BIGINT) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS priority
        FROM documents
    ),
    per_lang AS (
        SELECT lang,
               CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens
        FROM d GROUP BY lang
    ),
    c AS (
        SELECT lang, n_tokens,
               CAST(n_tokens * {_UNIMAX_EPOCHS} AS BIGINT) AS cap_tokens
        FROM per_lang
    ),
    o AS (
        SELECT *,
               CAST((sum(n_tokens) OVER () * {_UNIMAX_BUDGET_NUM})
                    // {_UNIMAX_BUDGET_DEN} AS BIGINT) AS budget,
               CAST(count(*) OVER () AS BIGINT) AS n_langs,
               CAST(row_number() OVER (ORDER BY cap_tokens, lang)
                    AS BIGINT) AS i,
               CAST(coalesce(sum(cap_tokens) OVER (
                        ORDER BY cap_tokens, lang
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS csum_prev
        FROM c
    ),
    flagged AS (
        SELECT *,
               cap_tokens * (n_langs - i + 1) + csum_prev < budget AS capped
        FROM o
    ),
    agg AS (
        SELECT *,
               CAST(coalesce(sum(CASE WHEN capped THEN cap_tokens END)
                                 OVER (), 0) AS BIGINT) AS capped_sum,
               CAST(n_langs - sum(CASE WHEN capped THEN 1 ELSE 0 END)
                                     OVER () AS BIGINT) AS n_uncapped
        FROM flagged
    ),
    q AS (
        SELECT lang, n_tokens AS lang_tokens,
               CAST(CASE WHEN capped THEN cap_tokens
                    ELSE (budget - capped_sum) // nullif(n_uncapped, 0)
               END AS BIGINT) AS unimax_quota
        FROM agg
    ),
    q2 AS (
        SELECT *,
               CAST(coalesce(unimax_quota // nullif(lang_tokens, 0), 0)
                    AS BIGINT) AS base_copies,
               CAST(coalesce(unimax_quota % nullif(lang_tokens, 0), 0)
                    AS BIGINT) AS rem_tokens
        FROM q
    ),
    cum AS (
        SELECT doc_id, lang, n_tokens, priority,
               CAST(sum(n_tokens) OVER (PARTITION BY lang
                                        ORDER BY priority, doc_id)
                    AS BIGINT) AS cum_tokens
        FROM d
    )
    SELECT m.doc_id, m.lang, m.n_tokens, m.priority, m.cum_tokens,
           q2.unimax_quota AS quota_tokens, q2.lang_tokens,
           q2.base_copies,
           m.cum_tokens <= q2.rem_tokens AS extra_copy,
           CAST(q2.base_copies
                + CAST(m.cum_tokens <= q2.rem_tokens AS BIGINT)
                AS BIGINT) AS n_copies
    FROM cum m JOIN q2 USING (lang)
"""

ORACLE_SQL["token_kneser_ney"] = f"""
    WITH grams AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1])) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents)
    ),
    per_doc AS (
        SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        FROM grams GROUP BY doc_id, g
    ),
    corpus AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS cf
        FROM per_doc GROUP BY g
    ),
    parts AS (
        SELECT split_part(g, ' ', 1) AS w1,
               string_split(g, ' ')[-1] AS w2,
               cf
        FROM corpus
    ),
    ctx AS (
        SELECT w1, CAST(sum(cf) AS BIGINT) AS ctx_count,
               CAST(count(*) AS BIGINT) AS right_types
        FROM parts GROUP BY w1
    ),
    cont AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS left_cont
        FROM parts GROUP BY w2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM parts)
    SELECT w1, w2, cf, ctx_count, right_types, left_cont, n_bigram_types,
           CAST(left_cont AS DOUBLE) / CAST(n_bigram_types AS DOUBLE)
               AS p_cont,
           (CAST(cf AS DOUBLE) - {_KN_DISCOUNT})
               / CAST(ctx_count AS DOUBLE)
           + (({_KN_DISCOUNT} * CAST(right_types AS DOUBLE))
              / CAST(ctx_count AS DOUBLE))
             * (CAST(left_cont AS DOUBLE) / CAST(n_bigram_types AS DOUBLE))
               AS p_kn
    FROM parts JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
    ORDER BY cf DESC, w1, w2 LIMIT {_KN_TOP}
"""

ORACLE_SQL["docs_unimax_realized_mix"] = f"""
    WITH samp AS ({ORACLE_SQL["docs_unimax_sample"]}),
    design AS (
        SELECT lang, epochs_used AS designed_epochs
        FROM ({ORACLE_SQL["docs_unimax_mix"]})
    ),
    per AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(lang_tokens) AS BIGINT) AS lang_tokens,
               CAST(min(quota_tokens) AS BIGINT) AS quota_tokens,
               CAST(min(base_copies) AS BIGINT) AS base_copies,
               CAST(sum(CAST(extra_copy AS INT)) AS BIGINT) AS extra_docs,
               CAST(coalesce(sum(n_copies * n_tokens), 0) AS BIGINT)
                   AS delivered_tokens
        FROM samp GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(delivered_tokens) AS BIGINT) AS tot_del FROM per
    )
    SELECT lang, n_docs, lang_tokens, quota_tokens, base_copies,
           extra_docs, delivered_tokens,
           delivered_tokens / CAST(nullif(quota_tokens, 0) AS DOUBLE)
               AS utilization,
           delivered_tokens / CAST(nullif(lang_tokens, 0) AS DOUBLE)
               AS realized_epochs,
           designed_epochs,
           delivered_tokens / CAST(nullif(lang_tokens, 0) AS DOUBLE)
               - designed_epochs AS epoch_gap,
           delivered_tokens / CAST(nullif(tot_del, 0) AS DOUBLE)
               AS achieved_share
    FROM per JOIN design USING (lang) CROSS JOIN tot
"""

# The per-document KN score relation, shared VERBATIM by the
# docs_kn_surprisal oracle and the docs_kn_band oracle (which chains
# it as a CTE) — mirroring _kn_doc_scores on the Spark side: one
# formula, zero drift.
_KN_DOC_SCORES_SQL = f"""
    WITH grams AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1])) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS t
              FROM documents)
    ),
    per_doc AS (
        SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        FROM grams GROUP BY doc_id, g
    ),
    corpus AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS cf
        FROM per_doc GROUP BY g
    ),
    parts AS (
        SELECT g, split_part(g, ' ', 1) AS w1,
               string_split(g, ' ')[-1] AS w2, cf
        FROM corpus
    ),
    ctx AS (
        SELECT w1, CAST(sum(cf) AS BIGINT) AS ctx_count,
               CAST(count(*) AS BIGINT) AS right_types
        FROM parts GROUP BY w1
    ),
    cont AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS left_cont
        FROM parts GROUP BY w2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_bigram_types FROM parts),
    model AS (
        SELECT g,
               (CAST(cf AS DOUBLE) - {_KN_DISCOUNT})
                   / CAST(ctx_count AS DOUBLE)
               + (({_KN_DISCOUNT} * CAST(right_types AS DOUBLE))
                  / CAST(ctx_count AS DOUBLE))
                 * (CAST(left_cont AS DOUBLE)
                    / CAST(n_bigram_types AS DOUBLE)) AS p_kn
        FROM parts JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(CAST(round(
               sum(c * -log2(p_kn)) / CAST(sum(c) AS DOUBLE), 6
           ) AS DECIMAL(38,6)) AS DOUBLE) AS kn_surprisal
    FROM per_doc JOIN model USING (g)
    GROUP BY doc_id
"""

ORACLE_SQL["docs_kn_surprisal"] = _KN_DOC_SCORES_SQL

# the band CASE over a scores relation aliased `s` — shared by the
# docs_kn_band and docs_quality_kn_interaction oracles (mirror of
# _kn_band_col)
_KN_BAND_CASE_SQL = f"""
           CASE WHEN s.kn_surprisal IS NULL THEN 'unscored'
                WHEN s.kn_surprisal < {_KN_BAND_LO} THEN 'below'
                WHEN s.kn_surprisal > {_KN_BAND_HI} THEN 'above'
                ELSE 'keep' END
"""

# Five-stage chain (r12, r11 verdict ask #5): the four-stage oracle
# with the KN band stage interposed between the gate and the near-dup
# leg — built MECHANICALLY (the KN CTEs insert before `gated_docs`,
# whose source re-roots on `kn`, and the ND keep set re-roots on `kn`),
# with the score relation reused from _KN_DOC_SCORES_SQL VERBATIM
# modulo one source-relation join (the model trains on the GATED
# corpus — the chain's one semantic subtlety, stated in SQL: the
# grams CTE joins the gate's keep set before counting a single
# bigram) as a NESTED WITH (local CTE names, no outer-name clash),
# and the band verdict from _KN_BAND_CASE_SQL verbatim.
_KN_GATED_SCORES_SQL = _KN_DOC_SCORES_SQL.replace(
    "FROM documents)", "FROM documents JOIN g USING (doc_id))", 1
)
assert "JOIN g USING (doc_id))" in _KN_GATED_SCORES_SQL

_KN_GATE_CTES = f"""kn_scores AS (
{_KN_GATED_SCORES_SQL}
    ),
    kn AS MATERIALIZED (
        SELECT g.doc_id
        FROM g LEFT JOIN kn_scores s USING (doc_id)
        WHERE ({_KN_BAND_CASE_SQL}) = 'keep'
    ),
    """

ORACLE_SQL["docs_ingest_chain_kn"] = (
    ORACLE_SQL["docs_ingest_chain_nd"]
    .replace("    gated_docs AS (", "    " + _KN_GATE_CTES + "gated_docs AS (", 1)
    .replace(
        "SELECT d.doc_id, d.text FROM documents d JOIN g USING (doc_id)",
        "SELECT d.doc_id, d.text FROM documents d JOIN kn USING (doc_id)",
        1,
    )
    .replace(
        "SELECT g.doc_id FROM g\n        WHERE NOT EXISTS",
        "SELECT kn.doc_id FROM kn\n        WHERE NOT EXISTS",
        1,
    )
    .replace("WHERE lab.doc_id = g.doc_id", "WHERE lab.doc_id = kn.doc_id", 1)
)
assert "JOIN kn USING (doc_id)" in ORACLE_SQL["docs_ingest_chain_kn"]
assert "kn_scores" in ORACLE_SQL["docs_ingest_chain_kn"]
assert "FROM kn\n" in ORACLE_SQL["docs_ingest_chain_kn"]

# the Gopher keep verdict as a chainable (doc_id, gopher_keep) CTE
# body — the SAME rule arithmetic as the docs_gopher_rules oracle and
# the PR-curve oracle's label leg
_GOPHER_LABEL_SQL = f"""
    SELECT doc_id,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
               AND (mean_word_len BETWEEN {_GOPHER_MEAN_LEN_LO}
                    AND {_GOPHER_MEAN_LEN_HI})
               AND alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}
               AND symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO}
               AND n_stopwords >= {_GOPHER_MIN_STOPWORDS} AS gopher_keep
    FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               list_sum(list_transform(string_split(text, ' '),
                                       w -> length(w)))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS mean_word_len,
               len(list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '[a-zA-Z]')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS alpha_frac,
               (length(text) - length(replace(text, '#', '')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS symbol_ratio,
               len(list_filter(string_split(text, ' '),
                               w -> w IN {_GOPHER_STOPWORDS}))
                   AS n_stopwords
        FROM documents
    )
"""

# Calibration reliability table (r11): the SAME tok/vocab/scored CTEs
# as the PR-curve oracle (one scoring formula) + the shared gopher
# label CTE, binned on the bit-identical raw margin.
ORACLE_SQL["docs_classifier_calibration"] = f"""
    WITH tok AS (
        SELECT doc_id, w, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w <> '' GROUP BY doc_id, w
    ),
    vocab AS (
        SELECT w,
               CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)
                   - {1 << 31} AS wt
        FROM (SELECT DISTINCT w FROM tok)
    ),
    scored AS (
        SELECT doc_id,
               num / n_tokens / {float(1 << 31)} AS score
        FROM (SELECT doc_id,
                     CAST(sum(cnt) AS BIGINT) AS n_tokens,
                     CAST(sum(cnt * wt) AS BIGINT) AS num
              FROM tok JOIN vocab USING (w) GROUP BY doc_id)
    ),
    labels AS ({_GOPHER_LABEL_SQL}),
    d AS (
        SELECT CAST(least(greatest(
                   floor((score - {_CAL_LO}) / {_CAL_W}), 0),
                   {_CAL_BINS - 1}) AS INT) AS bin,
               score, l.gopher_keep AS label
        FROM scored JOIN labels l USING (doc_id)
    ),
    per AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(CAST(round(
                   sum(score) / CAST(count(*) AS DOUBLE), 6
               ) AS DECIMAL(38,6)) AS DOUBLE) AS mean_score,
               CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true
        FROM d GROUP BY bin
    )
    SELECT bin,
           -- CAST: DuckDB parses bare numeric literals as DECIMAL;
           -- Spark's lit() is DOUBLE, and the two round differently at
           -- bin edges (-0.015 vs -0.015000000000000001)
           CAST({_CAL_LO} AS DOUBLE) + bin * CAST({_CAL_W} AS DOUBLE)
               AS bin_lo,
           CAST({_CAL_LO} AS DOUBLE) + (bin + 1) * CAST({_CAL_W} AS DOUBLE)
               AS bin_hi,
           n_docs, mean_score, n_true,
           n_true / CAST(n_docs AS DOUBLE) AS label_rate,
           n_true / CAST(n_docs AS DOUBLE)
               >= lag(n_true / CAST(n_docs AS DOUBLE))
                      OVER (ORDER BY bin) AS rate_monotone
    FROM per
"""


ORACLE_SQL["docs_quality_kn_interaction"] = f"""
    WITH scores AS ({_KN_DOC_SCORES_SQL}),
    labels AS ({_GOPHER_LABEL_SQL}),
    d AS (
        SELECT l.gopher_keep,
               {_KN_BAND_CASE_SQL} AS band,
               s.kn_surprisal
        FROM labels l LEFT JOIN scores s USING (doc_id)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d)
    SELECT gopher_keep, band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CAST(round(
               sum(kn_surprisal) / CAST(count(kn_surprisal) AS DOUBLE), 6
           ) AS DECIMAL(38,6)) AS DOUBLE) AS avg_kn,
           count(*) / CAST(n_total AS DOUBLE) AS share
    FROM d CROSS JOIN tot
    GROUP BY gopher_keep, band, n_total
"""

ORACLE_SQL["docs_kn_band"] = f"""
    WITH scores AS ({_KN_DOC_SCORES_SQL})
    SELECT d.lang,
           {_KN_BAND_CASE_SQL} AS band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.n_bigrams) AS BIGINT) AS n_bigrams,
           min(s.kn_surprisal) AS min_kn,
           max(s.kn_surprisal) AS max_kn
    FROM documents d LEFT JOIN scores s USING (doc_id)
    GROUP BY d.lang, band
"""


# Six-stage chain (r14, r13 verdict ask #4): the five-stage oracle
# with the terminal decontamination CTEs appended MECHANICALLY — the
# WITH chain is reused byte-for-byte, the gram CTEs mirror
# doc_grams_of/bench_grams_of (the _GRAM_UNNEST_SQL kernel shared
# with the docs_contamination oracle: one gram definition), dgrams is
# restricted to the gate keep set `g` exactly as the engine probes
# gate-kept documents, and only the final SELECT widens by
# (n_contam_grams, train).
_CHAIN_KN_FINAL = (
    "    SELECT c.doc_id, c.lang, c.n_tokens, c.priority, c.cum_tokens,\n"
    "           q.quota_tokens, c.cum_tokens <= q.quota_tokens AS selected\n"
    "    FROM c JOIN quota q USING (lang)\n"
)
assert ORACLE_SQL["docs_ingest_chain_kn"].endswith(_CHAIN_KN_FINAL)
_CONTAM_CTES = f""",
    bgrams AS (
        SELECT DISTINCT gram FROM (
            SELECT doc_id, {_GRAM_UNNEST_SQL}
            FROM documents WHERE source = '{_BENCH_SOURCE}')
        WHERE gram IS NOT NULL
    ),
    dgrams AS (
        SELECT doc_id, gram FROM (
            SELECT doc_id, {_GRAM_UNNEST_SQL}
            FROM documents JOIN g USING (doc_id))
        WHERE gram IS NOT NULL
    ),
    hits AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam_grams
        FROM dgrams JOIN bgrams USING (gram) GROUP BY doc_id
    )
"""
_CHAIN_CONTAM_FINAL = (
    "    SELECT c.doc_id, c.lang, c.n_tokens, c.priority, c.cum_tokens,\n"
    "           q.quota_tokens, c.cum_tokens <= q.quota_tokens AS selected,\n"
    "           CAST(coalesce(h.n_contam_grams, 0) AS BIGINT)\n"
    "               AS n_contam_grams,\n"
    "           (c.cum_tokens <= q.quota_tokens)\n"
    "               AND coalesce(h.n_contam_grams, 0) = 0 AS train\n"
    "    FROM c JOIN quota q USING (lang)\n"
    "         LEFT JOIN hits h USING (doc_id)\n"
)
ORACLE_SQL["docs_ingest_chain_contam"] = (
    ORACLE_SQL["docs_ingest_chain_kn"].removesuffix(_CHAIN_KN_FINAL)
    + _CONTAM_CTES
    + _CHAIN_CONTAM_FINAL
)
assert "bgrams" in ORACLE_SQL["docs_ingest_chain_contam"]

# Stage-attrition audit (r12; r14: decontam row): derived MECHANICALLY
# from the SIX-stage chain oracle — the WITH chain (gate g, KN keep
# set kn, near-dup survivor set nd, admission c/quota, decontam
# bgrams/dgrams/hits) is reused byte-for-byte and only the final
# SELECT is swapped for the per-stage count/token rollup, so the
# audit's oracle observes the EXACT stage relations the chain oracle
# admits from (mirroring ingest_chain_stages + contam_sample_from
# on the Spark side). NULL text counts 0 tokens by explicit policy.
ORACLE_SQL["docs_ingest_chain_audit"] = (
    ORACLE_SQL["docs_ingest_chain_contam"].removesuffix(_CHAIN_CONTAM_FINAL)
    + """,
    sel AS (
        SELECT c.doc_id, c.n_tokens FROM c JOIN quota q USING (lang)
        WHERE c.cum_tokens <= q.quota_tokens
    ),
    fin AS (
        -- the train set: admitted AND benchmark-clean (decontam is
        -- terminal: quotas do not refill around a contaminated doc)
        SELECT s.doc_id, s.n_tokens
        FROM sel s LEFT JOIN hits h USING (doc_id)
        WHERE coalesce(h.n_contam_grams, 0) = 0
    ),
    atok AS (
        -- raw mass in the GATE's own unit (gm.n_words: split tokens,
        -- NULL text counts 0 by policy) — the r13 mass convention the
        -- streaming audit shares, since the gate verdict relation is
        -- the one maintained for every document incl. gate-dropped
        SELECT doc_id,
               CASE WHEN text IS NULL THEN 0
                    ELSE len(string_split(text, ' ')) END AS nt
        FROM documents
    ),
    stg AS (
        SELECT 0 AS stage_no, 'raw' AS stage,
               count(*) AS n_docs, sum(nt) AS n_tokens FROM atok
        UNION ALL
        SELECT 1, 'gopher_gate', count(*), sum(nt)
        FROM atok JOIN g USING (doc_id)
        UNION ALL
        SELECT 2, 'kn_band', count(*), sum(nt)
        FROM atok JOIN kn USING (doc_id)
        UNION ALL
        SELECT 3, 'neardup_dedup', count(*), sum(nt)
        FROM atok JOIN nd USING (doc_id)
        UNION ALL
        -- line dedup drops lines, never documents: same doc set as
        -- neardup_dedup, mass re-measured as KEPT-line tokens (the
        -- admission input d's n_tokens)
        SELECT 4, 'line_dedup', count(*), sum(n_tokens) FROM d
        UNION ALL
        SELECT 5, 'admission', count(*), sum(n_tokens) FROM sel
        UNION ALL
        SELECT 6, 'decontam', count(*), sum(n_tokens) FROM fin
    )
    SELECT CAST(stage_no AS INT) AS stage_no, stage,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           n_docs / CAST(nullif(lag(n_docs) OVER (ORDER BY stage_no), 0)
                         AS DOUBLE) AS kept_frac,
           n_tokens / CAST(nullif(lag(n_tokens) OVER (ORDER BY stage_no),
                                  0) AS DOUBLE) AS mass_frac
    FROM stg
"""
)
