"""Text-analysis queries over ``documents`` (training-data pipeline
operators: token counting, quality scoring, language ID,
fingerprinting). Backed by ``operators.textstats`` column functions;
oracles re-derive the same statistics in independent DuckDB SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import route
from ..operators import textstats as TS
from ..registry import query, table

_EN = "['the','and','of','to','a']"
_ES = "['el','la','de','que','los']"
_FR = "['le','la','les','des','et']"
_DE = "['der','die','und','das','ist']"

_TOK = "list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')"


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOK}) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]{{1,4}}|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_ish,
           CAST(length(text) AS INTEGER) AS n_chars_measured,
           length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOK}) AS avg_word_len,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp_md5,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(string_split(text,''), ch -> ascii(ch)::BIGINT)),
             (acc, x) -> (acc*257 + x) % 1000000007) AS fp_rolling
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + document fingerprinting in one per-doc pass:
    whitespace tokens, BPE-ish subword estimate, exact average word
    length, normalized-md5 content key, and the order-sensitive
    polynomial rolling hash."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.token_count("text").alias("n_tokens"),
        TS.bpe_ish_token_count("text").alias("n_bpe_ish"),
        TS.char_count("text").alias("n_chars_measured"),
        TS.avg_word_len("text").alias("avg_word_len"),
        TS.fingerprint("text").alias("fp_md5"),
        TS.rolling_hash("text").alias("fp_rolling"),
    )


@query(
    "text_quality_language",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang AS lang_labeled,
             length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOK}) AS wl,
             len(list_filter({_TOK}, x -> list_contains({_EN}, lower(x))))
               / CAST(len({_TOK}) AS DOUBLE) AS swr,
             len(regexp_extract_all(text, '[^\\w\\s]')) / CAST(length(text) AS DOUBLE) AS pr,
             len(list_filter({_TOK}, x -> list_contains({_EN}, lower(x)))) AS h_en,
             len(list_filter({_TOK}, x -> list_contains({_ES}, lower(x)))) AS h_es,
             len(list_filter({_TOK}, x -> list_contains({_FR}, lower(x)))) AS h_fr,
             len(list_filter({_TOK}, x -> list_contains({_DE}, lower(x)))) AS h_de
      FROM documents)
    SELECT doc_id, lang_labeled,
           swr AS stopword_ratio,
           pr  AS punct_ratio,
           (CASE WHEN wl >= 3.0 AND wl <= 8.0 THEN 1.0 ELSE 0.0 END
            + least(swr * 4.0, 1.0)
            + 1.0 - least(pr * 5.0, 1.0)) / 3.0 AS quality,
           CASE WHEN greatest(h_en,h_es,h_fr,h_de) = 0 THEN 'und'
                WHEN h_en = greatest(h_en,h_es,h_fr,h_de) THEN 'en'
                WHEN h_es = greatest(h_en,h_es,h_fr,h_de) THEN 'es'
                WHEN h_fr = greatest(h_en,h_es,h_fr,h_de) THEN 'fr'
                ELSE 'de' END AS lang_guess
    FROM s
    """,
)
def text_quality_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + heuristic language ID in one per-doc pass:
    stopword/punctuation ratios, the length/punct/stopword composite
    score, and marker-lexicon hit-count argmax language guessing
    (Cavnar-Trenkle-style profile matching reduced to function
    words) — all codegen'd column expressions."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_labeled"),
        TS.stopword_ratio("text").alias("stopword_ratio"),
        TS.punct_ratio("text").alias("punct_ratio"),
        TS.quality_score("text").alias("quality"),
        TS.language_guess("text").alias("lang_guess"),
    )


@query(
    "sample_split_documents",
    oracle="""
    WITH kept AS (
      SELECT doc_id, lang,
             CAST('0x'||substr(md5('strata:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
               / 4294967296.0 AS u_keep,
             CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
               / 4294967296.0 AS u_split
      FROM documents),
    sampled AS (
      SELECT doc_id, lang,
             CASE WHEN u_split < 0.1 THEN 'val' ELSE 'train' END AS split
      FROM kept
      WHERE u_keep < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 ELSE 0.25 END)
    SELECT lang, split,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM sampled GROUP BY 1, 2
    """,
    gate=False,
)
def sample_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus sampling + split assignment
    (``operators.sampling``): per-language keep rates (corpus
    balancing: keep all German, half of English, a quarter of the
    rest) and a content-keyed train/val split — both decided by md5
    hashes of the document id, so the sample is reproducible across
    engines, cluster layouts, retries, and appends (a doc never
    migrates between splits on rebuild). Pure map-side predicates:
    zero shuffles before the demo aggregation."""
    from ..operators.sampling import stratified_sample, train_val_split

    docs = table(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, "lang", {"en": 0.5, "de": 1.0}, default_rate=0.25, key="doc_id"
    )
    split = train_val_split(kept, "doc_id", val_fraction=0.1)
    return split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "quality_gopher_rules",
    oracle=f"""
    WITH s AS (
      SELECT lang, {_TOK} AS toks, len({_TOK}) AS n,
             length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOK}) AS wl,
             len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS sym
      FROM documents),
    r AS (
      SELECT lang,
             (n >= 10 AND n <= 100000) AS words_ok,
             (wl >= 3.0 AND wl <= 10.0) AS word_len_ok,
             (n > 0 AND sym / CAST(n AS DOUBLE) <= 0.1) AS symbol_ok,
             (n > 0 AND len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
                / CAST(n AS DOUBLE) >= 0.8) AS alpha_ok,
             (len(list_filter(['the','be','to','of','and','that','have','with'],
                 w -> list_contains(list_transform(toks, t -> lower(t)), w))) >= 2)
               AS stopword_ok
      FROM s)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN words_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_words_ok,
           CAST(SUM(CASE WHEN word_len_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_word_len_ok,
           CAST(SUM(CASE WHEN symbol_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol_ok,
           CAST(SUM(CASE WHEN alpha_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_ok,
           CAST(SUM(CASE WHEN stopword_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_stopword_ok,
           CAST(SUM(CASE WHEN words_ok AND word_len_ok AND symbol_ok
                          AND alpha_ok AND stopword_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass
    FROM r GROUP BY 1
    """,
    gate=False,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter gate (Rae et al. 2021, App. A1.1) over the
    corpus: per-language counts of documents passing each published
    rule (word-count bounds, mean-word-length band, symbol-to-word
    ratio, alphabetic-word fraction, required-stopword presence) and
    the full conjunction. ``min_words=10`` rather than the paper's 50
    because the synthetic documents are ~30 words; every other
    threshold is the published default. One map-side pass + one
    aggregation — the whole gate runs at parquet-scan speed."""
    docs = table(spark, sf_dir, "documents")
    g = TS.gopher_rules("text", min_words=10)
    flags = docs.select("lang", g.alias("g"))
    b = lambda f: F.sum(F.col(f"g.{f}").cast("bigint")).alias(f"n_{f}")  # noqa: E731
    return flags.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        b("words_ok"),
        b("word_len_ok"),
        b("symbol_ok"),
        b("alpha_ok"),
        b("stopword_ok"),
        F.sum(F.col("g.passes").cast("bigint")).alias("n_pass"),
    )


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    side AS (
      SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS distinct_token_ratio
      FROM base),
    grams AS (
      SELECT doc_id, 'uni' AS kind, unnest(toks) AS gram FROM base
      UNION ALL
      SELECT doc_id, 'bi' AS kind,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM base),
    counts AS (SELECT doc_id, kind, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3),
    pk AS (
      SELECT doc_id,
             MAX(CASE WHEN kind = 'uni' THEN c END) AS m_uni,
             SUM(CASE WHEN kind = 'uni' THEN c END) AS t_uni,
             MAX(CASE WHEN kind = 'bi' THEN c END) AS m_bi,
             SUM(CASE WHEN kind = 'bi' THEN c END) AS t_bi
      FROM counts GROUP BY 1)
    SELECT s.doc_id, s.n_tokens, s.distinct_token_ratio,
           COALESCE(m_uni / CAST(t_uni AS DOUBLE), 0.0) AS top_token_frac,
           COALESCE(m_bi / CAST(t_bi AS DOUBLE), 0.0) AS top_bigram_frac
    FROM side s LEFT JOIN pk USING (doc_id)
    """,
    gate=False,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition statistics (the MassiveText/
    RefinedWeb duplicate-n-gram filters at token level): distinct-token
    ratio plus most-frequent unigram/bigram fractions, via ONE exploded
    (kind, gram) stream — a single shuffle chain keyed on doc_id. The
    DuckDB oracle recomputes both gram streams independently with
    unnest + range."""
    docs = table(spark, sf_dir, "documents")
    return TS.repetition_stats(docs, "text", "doc_id")


@query(
    "corpus_curation",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang, text,
             length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOK}) AS wl,
             len(list_filter({_TOK}, x -> list_contains({_EN}, lower(x))))
               / CAST(len({_TOK}) AS DOUBLE) AS swr,
             len(regexp_extract_all(text, '[^\\w\\s]')) / CAST(length(text) AS DOUBLE) AS pr,
             CAST(len({_TOK}) AS INTEGER) AS n_tokens
      FROM documents),
    scored AS (
      SELECT *, (CASE WHEN wl >= 3.0 AND wl <= 8.0 THEN 1.0 ELSE 0.0 END
                 + least(swr * 4.0, 1.0)
                 + 1.0 - least(pr * 5.0, 1.0)) / 3.0 AS q
      FROM s),
    good AS (SELECT * FROM scored WHERE q >= 0.5),
    rep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM good
      GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))),
    deduped AS (SELECT g.* FROM good g JOIN rep USING (doc_id)),
    sampled AS (
      SELECT * FROM deduped
      WHERE CAST('0x'||substr(md5('curate:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
              / 4294967296.0
            < CASE lang WHEN 'en' THEN 0.5 ELSE 1.0 END)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM sampled GROUP BY 1
    """,
    gate=False,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation in ONE declarative plan —
    the flow the LLM-data operators exist for, composed: quality
    filter (length/punct/stopword composite ≥ 0.5) → exact dedup
    (normalized-content fingerprint, min-id representative) →
    deterministic stratified downsample (keep half of English, all of
    the rest) → per-language corpus stats. Every stage is JVM column
    expressions; the shuffles are exactly the dedup groupBy, the
    representative join, and the final stats aggregation — Catalyst
    pipelines the filters into the scan. The DuckDB oracle recomputes
    the entire pipeline independently."""
    from ..operators.dedup import exact_duplicates
    from ..operators.sampling import stratified_sample

    docs = table(spark, sf_dir, "documents")
    good = docs.where(TS.quality_score("text") >= 0.5)
    rep = exact_duplicates(good, "text", "doc_id").select(
        F.col("representative").alias("doc_id")
    )
    deduped = good.join(rep, "doc_id")
    sampled = stratified_sample(
        deduped, "lang", {"en": 0.5}, default_rate=1.0, key="doc_id", salt="curate"
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TS.token_count("text").cast("bigint")).alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "text_rare_token_ratio",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    occs AS (SELECT doc_id, unnest(toks) AS w FROM base),
    dfreq AS (
      SELECT w, COUNT(*) AS dfd
      FROM (SELECT DISTINCT doc_id, w FROM occs) GROUP BY 1),
    per AS (
      SELECT o.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN d.dfd * 5 <= n.n_docs * 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rare,
             CAST(SUM(d.dfd) AS BIGINT) AS sum_df,
             CAST(MIN(n.n_docs) AS BIGINT) AS n_docs
      FROM occs o JOIN dfreq d USING (w) CROSS JOIN n
      GROUP BY 1)
    SELECT b.doc_id,
           COALESCE(p.n_tokens, 0) AS n_tokens,
           COALESCE(p.n_rare, 0) AS n_rare,
           COALESCE(p.sum_df, 0) AS sum_df,
           COALESCE(p.sum_df / CAST(p.n_tokens * p.n_docs AS DOUBLE), 0.0)
             AS mean_df_ratio
    FROM base b LEFT JOIN per p USING (doc_id)
    """,
    gate=False,
)
def text_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality scoring
    (``operators.textstats.rare_token_stats``): per-document count of
    corpus-rare tokens (df/N <= 1/5, decided in exact integer
    arithmetic) and the mean document-frequency ratio — the rare-word/
    commonness features of corpus quality classifiers. Two passes:
    a vocabulary-sized document-frequency table, broadcast back onto
    the corpus-side occurrence stream (no token-keyed shuffle of the
    corpus), then one doc-keyed aggregation. Integer aggregates with
    one final scalar division keep the oracle hash exact."""
    docs = table(spark, sf_dir, "documents")
    return TS.rare_token_stats(docs, "text", "doc_id")


_LUHN_SQL = (
    "list_sum(list_transform(range(1, len(x) + 1), i -> "
    "CASE WHEN i % 2 = 0 THEN "
    "CASE WHEN 2 * CAST(substr(x, len(x) - i + 1, 1) AS INT) > 9 "
    "THEN 2 * CAST(substr(x, len(x) - i + 1, 1) AS INT) - 9 "
    "ELSE 2 * CAST(substr(x, len(x) - i + 1, 1) AS INT) END "
    "ELSE CAST(substr(x, len(x) - i + 1, 1) AS INT) END)) % 10 = 0"
)


@query(
    "pii_card_audit",
    oracle=rf"""
    WITH aug AS (
      SELECT doc_id, source,
             text || CASE WHEN doc_id % 7 = 0 THEN ' 4539578763621486'
                          WHEN doc_id % 7 = 3 THEN ' 4539578763621480'
                          ELSE '' END AS t
      FROM documents WHERE text IS NOT NULL),
    scr AS (
      SELECT doc_id, source, t,
             list_filter(regexp_extract_all(t, '\d+'),
                         x -> len(x) BETWEEN 13 AND 19) AS cands
      FROM aug),
    v AS (
      SELECT doc_id, source, t, cands,
             list_filter(cands, x -> {{_LUHN}}) AS valid
      FROM scr),
    red AS (
      SELECT doc_id, source, cands, valid,
             list_reduce(list_prepend(t, valid),
                         (acc, x) -> replace(acc, x, '[CARD]')) AS redacted,
             t
      FROM v)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(cands)) AS BIGINT) AS n_candidates,
           CAST(SUM(len(valid)) AS BIGINT) AS n_valid_cards,
           CAST(SUM(CASE WHEN len(valid) > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_flagged,
           CAST(SUM(length(t) - length(redacted)) AS BIGINT)
             AS chars_removed
    FROM red GROUP BY 1
    """.replace("{_LUHN}", _LUHN_SQL),
    gate=False,
)
def pii_card_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-card PII audit (``operators.pii.luhn_card_scrub``) —
    checksum-VALIDATED card redaction: 13-19-digit runs are scrubbed
    only when the Luhn check passes, so card-shaped order ids and
    timestamps survive (precision matters at corpus scale, where a
    bare digit-run rule would redact billions of benign tokens). The
    synthetic corpus carries no card numbers, so the query plants a
    deterministic valid PAN on every 7th document and a
    checksum-FAILING near-miss on every doc_id%7==3 — the audit must
    count exactly the planted valid set. Map-side JVM HOF arithmetic
    (regexp extraction, integer Luhn fold, replace fold), one
    source-keyed aggregate; the DuckDB twin replays candidate
    extraction, the checksum, and the redaction fold in list algebra."""
    from ..operators.pii import luhn_card_scrub

    docs = table(spark, sf_dir, "documents", access="scan")
    aug = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" 4539578763621486"))
            .when(F.col("doc_id") % 7 == 3, F.lit(" 4539578763621480"))
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    scrubbed = aug.select(
        "source",
        F.length("t").alias("_len"),
        luhn_card_scrub("t").alias("s"),
    )
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("s.n_candidates").cast("bigint").alias("n_candidates"),
        F.sum("s.n_valid_cards").cast("bigint").alias("n_valid_cards"),
        F.sum(
            F.when(F.col("s.n_valid_cards") > 0, 1).otherwise(0)
        ).cast("bigint").alias("n_docs_flagged"),
        F.sum(F.col("_len") - F.length("s.redacted"))
        .cast("bigint")
        .alias("chars_removed"),
    )


@query(
    "pii_scrub_contacts",
    oracle=r"""
    WITH c0 AS (
      SELECT c_custkey,
             printf('u%d@example.com call 215-%03d-%04d from 10.0.%d.%d',
                    c_custkey, c_custkey % 1000, c_custkey % 10000,
                    c_custkey % 256, (c_custkey // 256) % 256) AS contact
      FROM customer),
    c1 AS (
      SELECT c_custkey,
             CAST(len(regexp_extract_all(contact,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
             regexp_replace(contact,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t
      FROM c0),
    c2 AS (
      SELECT c_custkey, n_email,
             CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER)
               AS n_phone,
             regexp_replace(t, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS t
      FROM c1),
    c3 AS (
      SELECT c_custkey, n_email, n_phone,
             CAST(len(regexp_extract_all(t,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
             regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g')
               AS redacted
      FROM c2)
    SELECT c_custkey, redacted, n_email, n_phone, n_ipv4 FROM c3
    """,
    gate=False,
)
def pii_scrub_contacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (``operators.pii.pii_scrub``): the C4/RefinedWeb-
    style regex scrub — emails, phone numbers, IPv4 addresses — over a
    contact string deterministically synthesized from the customer key
    (the synthetic tables carry no real PII columns, so the query
    constructs one identically on both engines; the scrub itself is
    the operator under test). Email → phone → ipv4 order with
    count-at-scrub-time semantics; pure JVM regex, zero Python. The
    DuckDB oracle replays the same construction and scrub chain in
    RE2."""
    from ..operators.pii import pii_scrub

    cust = table(spark, sf_dir, "customer")
    contact = F.format_string(
        "u%d@example.com call 215-%03d-%04d from 10.0.%d.%d",
        F.col("c_custkey"),
        F.col("c_custkey") % 1000,
        F.col("c_custkey") % 10000,
        F.col("c_custkey") % 256,
        F.expr("c_custkey DIV 256") % 256,
    )
    s = pii_scrub(contact)
    return cust.select(
        "c_custkey",
        s["redacted"].alias("redacted"),
        s["n_email"].alias("n_email"),
        s["n_phone"].alias("n_phone"),
        s["n_ipv4"].alias("n_ipv4"),
    )


@query(
    "mixture_documents",
    oracle="""
    WITH en AS (SELECT * FROM documents WHERE lang = 'en'),
    rest AS (SELECT * FROM documents WHERE lang <> 'en'),
    c AS (SELECT (SELECT COUNT(*) FROM en) AS n_en,
                 (SELECT COUNT(*) FROM rest) AS n_rest),
    r AS (SELECT least(n_en / (0.6::DOUBLE / 1.0::DOUBLE),
                       n_rest / (0.4::DOUBLE / 1.0::DOUBLE)) AS feasible,
                 n_en, n_rest FROM c),
    rates AS (SELECT least(1.0::DOUBLE, (feasible * (0.6::DOUBLE / 1.0::DOUBLE)) / n_en) AS rate_en,
                     least(1.0::DOUBLE, (feasible * (0.4::DOUBLE / 1.0::DOUBLE)) / n_rest) AS rate_rest
              FROM r),
    kept AS (
      SELECT 'en' AS source, doc_id FROM en, rates
      WHERE CAST('0x'||substr(md5('mixture:en:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
              / 4294967296.0 < rate_en
      UNION ALL
      SELECT 'rest' AS source, doc_id FROM rest, rates
      WHERE CAST('0x'||substr(md5('mixture:rest:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
              / 4294967296.0 < rate_rest)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM kept GROUP BY 1
    """,
    gate=False,
)
def mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixture (``operators.sampling.mixture``): mix
    the English corpus against everything else at 60/40 target
    weights — per-source counts size the rates (one count() scalar
    per source), content hashes decide every row's fate, no source is
    ever upsampled. The DuckDB oracle recomputes counts, feasible
    total, rates, and hashes independently — including the binding-
    source cap arithmetic."""
    from ..operators.sampling import mixture

    docs = table(spark, sf_dir, "documents")
    mixed = mixture(
        {
            "en": (docs.where(F.col("lang") == "en"), 0.6),
            "rest": (docs.where(F.col("lang") != "en"), 0.4),
        },
        key="doc_id",
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "mixture_temperature",
    oracle="""
    WITH c AS (SELECT
        (SELECT COUNT(*) FROM documents WHERE lang = 'en') AS n_en,
        (SELECT COUNT(*) FROM documents WHERE lang = 'de') AS n_de,
        (SELECT COUNT(*) FROM documents WHERE lang NOT IN ('en','de')) AS n_ot),
    w AS (SELECT n_en, n_de, n_ot,
                 sqrt(CAST(n_en AS DOUBLE)) AS w_en,
                 sqrt(CAST(n_de AS DOUBLE)) AS w_de,
                 sqrt(CAST(n_ot AS DOUBLE)) AS w_ot
          FROM c),
    t AS (SELECT *, w_en + w_de + w_ot AS tw FROM w),
    f AS (SELECT *, least(n_en / (w_en / tw),
                          n_de / (w_de / tw),
                          n_ot / (w_ot / tw)) AS feas FROM t),
    r AS (SELECT least(1.0::DOUBLE, (feas * (w_en / tw)) / n_en) AS rate_en,
                 least(1.0::DOUBLE, (feas * (w_de / tw)) / n_de) AS rate_de,
                 least(1.0::DOUBLE, (feas * (w_ot / tw)) / n_ot) AS rate_ot
          FROM f),
    kept AS (
      SELECT 'en' AS source, doc_id FROM documents, r
      WHERE lang = 'en'
        AND CAST('0x'||substr(md5('tempmix:en:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
              / 4294967296.0 < rate_en
      UNION ALL
      SELECT 'de' AS source, doc_id FROM documents, r
      WHERE lang = 'de'
        AND CAST('0x'||substr(md5('tempmix:de:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
              / 4294967296.0 < rate_de
      UNION ALL
      SELECT 'other' AS source, doc_id FROM documents, r
      WHERE lang NOT IN ('en','de')
        AND CAST('0x'||substr(md5('tempmix:other:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
              / 4294967296.0 < rate_ot)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM kept GROUP BY 1
    """,
    gate=False,
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed dataset mixture
    (``operators.sampling.temperature_mixture``, the mT5/XLM-R α
    recipe): per-source counts smoothed with α = 0.5 (√n weights —
    IEEE-correctly-rounded, so the DuckDB oracle reproduces the
    weight, feasibility, and rate arithmetic bit-for-bit), largest
    feasible mixture without upsampling, every row's fate a content
    hash. English/German/rest-of-corpus demo: α = 0.5 lifts the small
    German corpus relative to its natural share."""
    from ..operators.sampling import temperature_mixture

    docs = table(spark, sf_dir, "documents")
    mixed = temperature_mixture(
        {
            "en": docs.where(F.col("lang") == "en"),
            "de": docs.where(F.col("lang") == "de"),
            "other": docs.where(~F.col("lang").isin("en", "de")),
        },
        key="doc_id",
        alpha=0.5,
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "source_capped_topn",
    oracle=f"""
    WITH s AS (
      SELECT source, doc_id,
             length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOK}) AS wl,
             len(list_filter({_TOK}, x -> list_contains({_EN}, lower(x))))
               / CAST(len({_TOK}) AS DOUBLE) AS swr,
             len(regexp_extract_all(text, '[^\\w\\s]')) / CAST(length(text) AS DOUBLE) AS pr
      FROM documents),
    scored AS (
      SELECT source, doc_id,
             (CASE WHEN wl >= 3.0 AND wl <= 8.0 THEN 1.0 ELSE 0.0 END
              + least(swr * 4.0, 1.0)
              + 1.0 - least(pr * 5.0, 1.0)) / 3.0 AS quality
      FROM s),
    ranked AS (
      SELECT source, doc_id, quality,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY quality DESC, doc_id) AS INTEGER)
               AS rank
      FROM scored)
    SELECT source, rank, doc_id, quality FROM ranked WHERE rank <= 10
    """,
    gate=False,
)
def source_capped_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps (``operators.sampling.cap_per_group``,
    the per-domain cap of web-corpus curation): keep the 10
    highest-quality documents per source, ranked by the composite
    quality score with a doc-id tiebreaker so the cut is total-ordered
    and engine-independent. One group-keyed ranking shuffle; at web
    scale the group key is the registrable domain, whose cardinality
    keeps partitions balanced."""
    from ..operators.sampling import cap_per_group

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "source", "doc_id", TS.quality_score("text").alias("quality")
    )
    return cap_per_group(
        scored, "source", 10, [F.desc("quality"), F.asc("doc_id")]
    ).select("source", "rank", "doc_id", "quality")


@query(
    "sketch_vocabulary_report",
    oracle=f"""
    WITH tok AS (SELECT lang, unnest({_TOK}) AS w FROM documents),
    ex AS (SELECT lang, CAST(COUNT(DISTINCT w) AS BIGINT) AS exact_distinct_tokens
           FROM tok GROUP BY 1),
    d AS (SELECT lang, len({_TOK}) AS n_tokens FROM documents),
    c AS (SELECT lang, COUNT(*) AS n FROM d GROUP BY 1),
    o AS (SELECT lang, n_tokens,
                 row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn
          FROM d),
    med AS (
      SELECT o.lang, AVG(CAST(o.n_tokens AS DOUBLE)) AS exact_p50_tokens
      FROM o JOIN c ON o.lang = c.lang
      WHERE o.rn = (c.n + 1) // 2 OR o.rn = c.n // 2 + 1
      GROUP BY o.lang)
    SELECT ex.lang, ex.exact_distinct_tokens, med.exact_p50_tokens,
           TRUE AS hll_in_band, TRUE AS p50_in_band
    FROM ex JOIN med ON ex.lang = med.lang
    """,
    gate=False,
)
def sketch_vocabulary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based corpus statistics — the 100 TB answer when exact
    distinct counts stop being worth their shuffle: per-language
    HyperLogLog++ distinct-token estimates (fixed-size sketch, one
    map-side pass, merge-order insensitive) and an approx
    token-count median, AUDITED against their exact twins. Sketch
    VALUES are engine-specific (DuckDB's HLL layout differs) but
    deterministic within Spark, so the oracle-checkable surface (r6
    verdict task — same treatment as ``approx_sketches``) is the
    exact statistics plus in-band flags pinned TRUE: HLL within
    5×rsd; approx p50 (accuracy 1000, rank error ≤ n/10³) inside the
    exact [p45, p55] value corridor from a grouped bucketed
    selection. The exact median itself is the AVG of the two middle
    order statistics (``exact_median_by`` — no per-group sort),
    mirrored verbatim by the oracle. Error contract additionally
    pinned in tests/test_textstats.py."""
    from ..operators.orderstats import exact_median_by, kth_smallest_by

    docs = table(spark, sf_dir, "documents")
    lens = docs.select("lang", TS.token_count("text").alias("n_tokens"))
    meds = exact_median_by(lens, "lang", "n_tokens")
    corr, counts = kth_smallest_by(
        lens,
        "lang",
        "n_tokens",
        lambda n: {max(1, (n * 45) // 100), max(1, (n * 55) // 100)},
    )
    stats = route.driver_frame(
        spark,
        [
            (
                g[0],
                meds[g][1],
                float(corr[g][max(1, (counts[g] * 45) // 100)]),
                float(corr[g][max(1, (counts[g] * 55) // 100)]),
            )
            for g in counts
        ],
        "lang string, exact_p50_tokens double, _p45 double, _p55 double",
    )
    toks = docs.select("lang", F.explode(TS.tokens(F.col("text"))).alias("w"))
    # exact distinct and the HLL run as separate aggregations joined
    # on the group key — one groupBy mixing DISTINCT and sketch
    # aggregates plans Expand + per-expanded-row sketch updates (see
    # approx_sketches; measured 48 s vs split sub-second on lineitem)
    agg = toks.groupBy("lang").agg(
        F.count_distinct("w").alias("exact_distinct_tokens")
    )
    hll = toks.groupBy("lang").agg(
        F.approx_count_distinct("w", rsd=0.05).alias("_a_distinct")
    )
    appx = lens.groupBy("lang").agg(
        F.expr("approx_percentile(n_tokens, 0.5, 1000)").alias("_a_p50")
    )
    return (
        agg.join(hll, "lang")
        .join(appx, "lang")
        .join(F.broadcast(stats), "lang")
        .select(
            "lang",
            "exact_distinct_tokens",
            "exact_p50_tokens",
            (
                F.abs(F.col("_a_distinct") - F.col("exact_distinct_tokens"))
                <= 5 * 0.05 * F.col("exact_distinct_tokens")
            ).alias("hll_in_band"),
            (
                (F.col("_a_p50") >= F.col("_p45")) & (F.col("_a_p50") <= F.col("_p55"))
            ).alias("p50_in_band"),
        )
    )


@query(
    "token_weighted_median_length",
    oracle=f"""
    WITH d AS (SELECT lang, len({_TOK}) AS n_tokens FROM documents),
    w AS (SELECT lang, n_tokens FROM d WHERE n_tokens > 0),
    tot AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM w GROUP BY 1),
    o AS (SELECT lang, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_tokens
                                     ROWS UNBOUNDED PRECEDING) AS cw
          FROM w),
    sel AS (SELECT o.lang, MIN(o.n_tokens) AS weighted_median_len
            FROM o JOIN tot ON o.lang = tot.lang
            WHERE o.cw >= (tot.total_tokens + 1) // 2
            GROUP BY 1)
    SELECT t.lang, t.total_tokens,
           CAST(s.weighted_median_len AS BIGINT) AS weighted_median_len
    FROM tot t JOIN sel s ON t.lang = s.lang
    """,
    gate=False,
)
def token_weighted_median_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-weighted median document length per language — the
    length below which half of each language's TOKENS (not documents)
    live: the statistic that actually sizes a training token budget,
    since long documents dominate token mass while the plain median
    ignores them. Computed by the WEIGHTED grouped bucketed selection
    (``kth_smallest_by(weight_col=)``): histograms locate the rank by
    per-bucket weight sums, ranks run over 1..Σw, and the answer is
    the smallest length whose cumulative token count reaches
    ⌈W/2⌉ — deterministic under ties (a tie block's cumulative
    boundary is order-invariant), mirrored exactly by the oracle's
    cumulative-window MIN. No per-language sort; the corpus is only
    scanned."""
    from ..operators.orderstats import kth_smallest_by

    docs = table(spark, sf_dir, "documents", access="scan")
    lens = docs.select("lang", TS.token_count("text").alias("n_tokens")).where(
        F.col("n_tokens") > 0
    )
    vals, counts = kth_smallest_by(
        lens, "lang", "n_tokens", lambda W: {(W + 1) // 2}, weight_col="n_tokens"
    )
    return route.driver_frame(
        spark,
        [(g[0], counts[g], int(vals[g][(counts[g] + 1) // 2])) for g in counts],
        "lang string, total_tokens bigint, weighted_median_len bigint",
    )


@query(
    "token_budget_shards",
    oracle=f"""
    WITH d AS (SELECT doc_id, len({_TOK}) AS n_tokens FROM documents),
    w AS (SELECT doc_id, n_tokens FROM d WHERE n_tokens > 0),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS W FROM w),
    o AS (SELECT n_tokens,
                 SUM(n_tokens) OVER (ORDER BY n_tokens
                                     ROWS UNBOUNDED PRECEDING) AS cw
          FROM w),
    b AS (SELECT i,
                 (SELECT MIN(o.n_tokens) FROM o, tot
                  WHERE o.cw >= greatest((tot.W * i) // 8, 1)) AS bval
          FROM (SELECT unnest(range(1,8)) AS i)),
    bins AS (SELECT w.doc_id, w.n_tokens,
                    1 + SUM(CASE WHEN w.n_tokens > b.bval THEN 1 ELSE 0 END)
                      AS shard
             FROM w JOIN b ON TRUE GROUP BY 1, 2)
    SELECT CAST(shard AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM bins GROUP BY 1
    """,
    gate=False,
)
def token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-TOKEN-budget corpus sharding by document length: the 7
    boundaries are EXACT weighted order statistics (ranks i·W/8 over
    length weighted by token count — ``kth_smallest_by(weight_col=)``),
    so each of the 8 length-range shards holds ≈ W/8 tokens — how you
    actually split a pretraining corpus into balanced-work slices,
    where equal DOC counts would put 10× the tokens in the long-doc
    shard. Assignment is the map-side value-threshold bin
    (tie blocks land whole — the residual imbalance the report
    exhibits is exactly the tie mass, not an algorithm artifact)."""
    from ..operators.orderstats import kth_smallest_by

    docs = table(spark, sf_dir, "documents", access="scan")
    lens = docs.select("doc_id", TS.token_count("text").alias("n_tokens")).where(
        F.col("n_tokens") > 0
    )
    vals, counts = kth_smallest_by(
        lens,
        (),
        "n_tokens",
        lambda W: {max((W * i) // 8, 1) for i in range(1, 8)},
        weight_col="n_tokens",
    )
    W = counts[()]
    bounds = [int(vals[()][max((W * i) // 8, 1)]) for i in range(1, 8)]

    def _above(acc, x):
        return acc + F.when(F.col("n_tokens") > x, 1).otherwise(0)

    shard = F.lit(1) + F.aggregate(
        F.array(*[F.lit(b) for b in bounds]), F.lit(0), _above
    )
    return (
        lens.select(shard.cast("int").alias("shard"), "n_tokens")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )


@query(
    "epoch_shuffle_shards",
    oracle="""
    WITH h AS (SELECT doc_id,
                      CAST('0x'||substr(md5('shuf:'||CAST(doc_id AS VARCHAR)),
                                        1, 8) AS BIGINT) AS hv
               FROM documents),
    p AS (SELECT doc_id, hv,
                 hv % 16 AS shard,
                 row_number() OVER (PARTITION BY hv % 16
                                    ORDER BY hv, doc_id) AS pos
          FROM h)
    SELECT doc_id, CAST(shard AS INTEGER) AS shard,
           CAST(pos AS BIGINT) AS pos,
           CAST((pos - 1) * 16 + shard + 1 AS BIGINT) AS global_pos
    FROM p
    """,
    gate=False,
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC epoch shuffle — the global pseudorandom
    permutation a pretraining data loader needs, WITHOUT a global
    sort: each document hashes to a shard (md5-prefix — seedable,
    engine-reproducible), takes its in-shard position from a
    SHARD-LOCAL window (shards sort independently — n_shards is the
    parallelism/scale knob: size it so one shard ≈ one task, e.g.
    2²⁰ docs/shard at corpus scale), and the round-robin interleave
    ``(pos−1)·n_shards + shard + 1`` composes a deterministic total
    order (injective by construction; where hash variance leaves
    shards unequal the tail has gaps — readers stream shard files in
    interleave order, they never need contiguous ranks). No Exchange
    SinglePartition anywhere; re-running any subset of shards
    reproduces identical positions — what makes the shuffle
    RESUMABLE, unlike rand()-ordered sorts."""
    from ..operators.sampling import epoch_shuffle

    docs = table(spark, sf_dir, "documents", access="scan")
    # n_shards pinned to 16 so the oracle is reproducible at any SF;
    # the operator's default derives it from the input (one shard ≈
    # one task — the running_sum input-scaled rule)
    return epoch_shuffle(docs.select("doc_id"), "doc_id", n_shards=16)


@query(
    "stratified_split_exact",
    oracle="""
    WITH h AS (SELECT doc_id, source,
                      CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),
                                        1, 6) AS BIGINT) AS hv
               FROM documents),
    m AS (SELECT max(doc_id) + 1 AS mult FROM documents),
    k AS (SELECT doc_id, source, hv * mult + doc_id AS key FROM h, m),
    c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY 1),
    t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n,
                 CAST(sum(n_s) // 10 AS BIGINT) AS b FROM c),
    q0 AS (SELECT source, n_s, (n_s * b) // n AS base, (n_s * b) % n AS rem
           FROM c, t),
    e AS (SELECT CAST((SELECT b FROM t) - sum(base) AS BIGINT) AS extras FROM q0),
    q1 AS (SELECT source, base,
                  row_number() OVER (ORDER BY rem DESC, source) AS rr
           FROM q0),
    quota AS (SELECT source,
                     base + CASE WHEN rr <= (SELECT extras FROM e)
                                 THEN 1 ELSE 0 END AS quota
              FROM q1),
    r AS (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY key) AS rk
          FROM k)
    SELECT r.doc_id, r.source,
           CASE WHEN r.rk <= q.quota THEN 'eval' ELSE 'train' END AS split
    FROM r JOIN quota q ON r.source = q.source
    """,
    gate=False,
)
def stratified_split_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified eval split — each source contributes its
    largest-remainder share of a floor(N/10) eval budget, membership
    decided by content hash within the source (uniform, append-stable
    ordering). Unlike the rate-threshold ``train_val_split`` the
    per-stratum COUNTS are exact, which is what a held-out eval set
    needs (a binomial 10%±noise per source skews small sources).

    Scale path (``operators.sampling.stratified_split_exact``): one
    bounded (count, max-id) aggregate, python-int Hamilton quotas on
    the |strata| table, ONE grouped bucketed-selection descent for the
    per-source quota-th smallest combined key hv·M + id (unique ⇒
    threshold filter hits the quota exactly), then a map-side filter —
    never a per-source sort window (a hot source would sort its whole
    stratum in one task). The DuckDB twin IS the per-source window
    rank, which is exactly the cross-check: selection descent ==
    window rank."""
    from ..operators.sampling import stratified_split_exact

    docs = table(spark, sf_dir, "documents", access="scan")
    return stratified_split_exact(
        docs.select("doc_id", "source"), "source", "doc_id", frac=(1, 10)
    )


@query(
    "curriculum_schedule",
    oracle="""
    WITH m AS (SELECT max(doc_id) + 1 AS mult,
                      CAST(count(*) AS BIGINT) AS n FROM documents),
    k AS (SELECT doc_id, n_chars * mult + doc_id AS ck FROM documents, m),
    r AS (SELECT doc_id, row_number() OVER (ORDER BY ck) AS rn FROM k),
    dec AS (SELECT doc_id,
                   CAST(((rn - 1) * 10) // (SELECT n FROM m) AS INTEGER)
                     AS decile
            FROM r),
    h AS (SELECT doc_id, decile,
                 CAST('0x'||substr(md5('curr:'||CAST(doc_id AS VARCHAR)),
                                   1, 8) AS BIGINT) AS hv
          FROM dec),
    p AS (SELECT doc_id, decile, hv % 16 AS shard,
                 row_number() OVER (PARTITION BY decile, hv % 16
                                    ORDER BY hv, doc_id) AS sp
          FROM h)
    SELECT doc_id, decile, CAST((sp - 1) * 16 + shard + 1 AS BIGINT) AS pos
    FROM p
    """,
    gate=False,
)
def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM ordering — easy→hard difficulty deciles (n_chars as
    the difficulty proxy), pseudo-randomly interleaved WITHIN each
    decile: the data order for length/difficulty-staged pretraining
    (train reads stream ``ORDER BY (decile, pos)``). Composes the
    repo's two ordering primitives instead of a global sort:

    - decile membership from NINE selection-descent thresholds over
      the unique combined key ``n_chars·M + doc_id`` (rank
      ⌈(d+1)·N/10⌉ each) + a map-side comparison count — never a
      global ``row_number`` (one task sorting the corpus);
    - within-decile position from the epoch-shuffle interleave
      (md5 shard + shard-local window + round-robin formula), so each
      (decile, shard) is one bounded task and the order is resumable.

    The DuckDB twin IS the global-rank definition (``((rn−1)·10) DIV
    N`` over the ck order), cross-checking thresholds == ranks.
    Delegates to :func:`operators.sampling.curriculum_order`, whose
    ``n_shards`` DEFAULT is input-scaled (the ``epoch_shuffle`` rule);
    the explicit ``n_shards=16`` here is the oracle pin only, so the
    twin reproduces at any SF."""
    from ..operators.sampling import curriculum_order

    docs = table(spark, sf_dir, "documents", access="scan")
    return curriculum_order(
        docs, "doc_id", "n_chars", n_shards=16, salt="curr"
    )


@query(
    "boilerplate_prefix_clusters",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, n_chars,
                      md5(array_to_string(list_slice({_TOK}, 1, 12), ' '))
                        AS prefix_fp
               FROM documents WHERE text IS NOT NULL)
    SELECT prefix_fp,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(min(doc_id) AS BIGINT) AS rep_doc_id,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM t GROUP BY 1 HAVING count(*) >= 2
    """,
    gate=False,
)
def boilerplate_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE / TEMPLATE detection — documents sharing their
    first 12 whitespace tokens are template instances (scraped
    headers, license banners, form letters); curation wants the
    cluster census before deciding to strip prefixes or drop copies.
    One md5 fingerprint per doc (map-side, O(prefix) regardless of
    doc length — this is the cheap prefilter that runs BEFORE any
    expensive pairwise dedup), one groupBy(fp) shuffle of short
    fingerprints, HAVING n≥2. Min-id representative, cross-source
    spread, and reclaimable chars per cluster."""
    docs = table(spark, sf_dir, "documents", access="scan")
    fp = F.md5(F.array_join(F.slice(TS.tokens("text"), 1, 12), " "))
    t = docs.where(F.col("text").isNotNull()).select(
        "doc_id", "source", "n_chars", fp.alias("prefix_fp")
    )
    return (
        t.groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("rep_doc_id"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .where(F.col("n_docs") >= 2)
    )


@query(
    "tokenizer_fertility_by_source",
    oracle=f"""
    WITH d AS (SELECT source, length(text) AS n_chars,
                      octet_length(CAST(text AS BLOB)) AS n_bytes,
                      len({_TOK}) AS n_tokens
               FROM documents WHERE text IS NOT NULL),
    a AS (SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                 CAST(SUM(n_chars) AS BIGINT) AS n_chars,
                 CAST(SUM(n_bytes) AS BIGINT) AS n_bytes
          FROM d GROUP BY 1)
    SELECT source, n_docs, n_tokens, n_chars, n_bytes,
           CAST((n_chars * 1000000) // n_tokens AS BIGINT)
             AS chars_per_token_micros,
           CAST((n_tokens * 1000000) // n_docs AS BIGINT)
             AS tokens_per_doc_micros
    FROM a
    """,
    gate=False,
)
def tokenizer_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per source — chars-per-token and
    tokens-per-doc (the compression/fertility numbers that size a
    token budget from raw bytes, and flag sources whose scripts the
    tokenizer fragments). Pure JVM scan-agg (whitespace tokens via
    the shared ``_TOK`` recipe, byte lengths via octet_length);
    ratios in exact integer fixed point (``DIV`` — no float
    division, no rounding divergence). One shuffle of |sources|
    partial aggregates."""
    docs = table(spark, sf_dir, "documents", access="scan")
    d = docs.where(F.col("text").isNotNull()).select(
        "source",
        F.length("text").alias("n_chars"),
        F.octet_length("text").alias("n_bytes"),
        TS.token_count("text").alias("n_tokens"),
    )
    a = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
    )
    return a.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_bytes",
        F.expr("CAST((n_chars * 1000000) DIV n_tokens AS BIGINT)").alias(
            "chars_per_token_micros"
        ),
        F.expr("CAST((n_tokens * 1000000) DIV n_docs AS BIGINT)").alias(
            "tokens_per_doc_micros"
        ),
    )


@query(
    "token_budget_shards_by_source",
    oracle=f"""
    WITH d AS (SELECT source, doc_id, len({_TOK}) AS n_tokens FROM documents),
    w AS (SELECT source, doc_id, n_tokens FROM d WHERE n_tokens > 0),
    tot AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS W
            FROM w GROUP BY 1),
    o AS (SELECT source, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source ORDER BY n_tokens
                                     ROWS UNBOUNDED PRECEDING) AS cw
          FROM w),
    b AS (SELECT t.source, i.i,
                 (SELECT MIN(o.n_tokens) FROM o
                  WHERE o.source = t.source
                    AND o.cw >= greatest((t.W * i.i) // 4, 1)) AS bval
          FROM tot t, (SELECT unnest(range(1, 4)) AS i) i),
    bins AS (SELECT w.source, w.doc_id, w.n_tokens,
                    1 + SUM(CASE WHEN w.n_tokens > b.bval THEN 1 ELSE 0 END)
                      AS shard
             FROM w JOIN b ON w.source = b.source GROUP BY 1, 2, 3)
    SELECT source, CAST(shard AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM bins GROUP BY 1, 2
    """,
    gate=False,
)
def token_budget_shards_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE equal-token-budget sharding — the real mixing
    primitive (r7 verdict #6): balanced length-range slices WITHIN
    each source, so a mixture schedule can draw equal-token work
    units per source without a long-doc shard dominating. All
    boundaries for all sources come from ONE grouped WEIGHTED
    bucketed-selection descent (``equi_depth_boundaries_by(
    weight_col=)``: histograms locate ranks by per-bucket token sums,
    ranks run over 1..W_source); assignment is the map-side
    value-threshold bin against a broadcast 3-boundary array per
    source. No per-source sort; tie blocks land whole (the residual
    token imbalance is exactly the tie mass). Grouped sibling of the
    global ``token_budget_shards``."""
    from ..operators.orderstats import equi_depth_boundaries_by

    docs = table(spark, sf_dir, "documents", access="scan")
    lens = docs.select("source", TS.token_count("text").alias("n_tokens")).where(
        F.col("n_tokens") > 0
    )
    bnds = equi_depth_boundaries_by(
        lens, "source", "n_tokens", 4, weight_col="n_tokens"
    )
    bounds = route.driver_frame(
        spark,
        [(g[0], [int(b) for b in bs]) for g, bs in bnds.items()],
        "source string, _b array<bigint>",
    )

    def _above(acc, x):
        return acc + F.when(F.col("n_tokens") > x, 1).otherwise(0)

    shard = F.lit(1) + F.aggregate(F.col("_b"), F.lit(0), _above)
    return (
        lens.join(F.broadcast(bounds), "source")
        .select("source", shard.cast("int").alias("shard"), "n_tokens")
        .groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
    )


@query(
    "source_vocab_overlap_sketch",
    oracle=f"""
    WITH tok AS (SELECT DISTINCT source, unnest({_TOK}) AS token FROM documents),
    h AS (SELECT DISTINCT source,
                 CAST('0x'||substr(md5('kmv:'||token),1,8) AS BIGINT) AS hv
          FROM tok),
    sk AS (SELECT source, hv FROM (
             SELECT source, hv,
                    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
             FROM h) WHERE rn <= 64),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b
              FROM (SELECT DISTINCT source FROM sk) a
              JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
    m AS (
      SELECT p.source_a, p.source_b, s.hv,
             MAX(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.source IN (p.source_a, p.source_b)
      GROUP BY 1, 2, 3),
    top AS (SELECT * FROM (
              SELECT m.*, row_number() OVER (PARTITION BY source_a, source_b
                                             ORDER BY hv) AS rn
              FROM m) WHERE rn <= 64),
    estj AS (SELECT source_a, source_b,
                    CAST(SUM(in_a * in_b) AS DOUBLE)
                      / CAST(LEAST(COUNT(*), 64) AS DOUBLE) AS est_jaccard
             FROM top GROUP BY 1, 2),
    v AS (SELECT source, COUNT(*) AS nv FROM tok GROUP BY 1),
    inter AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i
              FROM tok a JOIN tok b ON a.token = b.token AND a.source < b.source
              GROUP BY 1, 2)
    SELECT e.source_a, e.source_b, e.est_jaccard,
           COALESCE(CAST(i.i AS DOUBLE) / (va.nv + vb.nv - i.i), 0.0::DOUBLE)
             AS exact_jaccard
    FROM estj e
    JOIN v va ON va.source = e.source_a
    JOIN v vb ON vb.source = e.source_b
    LEFT JOIN inter i ON i.source_a = e.source_a AND i.source_b = e.source_b
    """,
    gate=False,
)
def source_vocab_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise VOCABULARY overlap across sources — the source-
    redundancy signal corpus mixing needs (two crawls of the same
    site waste budget) — estimated with KMV SET ALGEBRA and audited
    exactly: per-source bottom-64 minhash sketches
    (``kmv_minhashes_by`` — grouped bottom-k behind a cardinality-
    estimate threshold prefilter, so no per-source vocabulary-sized
    sort) and the Beyer et al. merged-k-min Jaccard estimator
    (``kmv_pair_overlap`` — every pair costs k-row arithmetic, where
    the exact answer pays the full inverted-index token join). Both
    columns are deterministic (md5 hashes, integer memberships), so
    the oracle checks the ESTIMATOR, not an error band; the exact
    column rides along as the audit anchor — at corpus scale you
    keep only the sketches and the pair table stays |sources|²·k."""
    from ..operators.sketch import kmv_minhashes_by, kmv_pair_overlap

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(TS.tokens(F.col("text"))).alias("token"))
    sk = kmv_minhashes_by(tok, "source", "token", k=64)
    est = kmv_pair_overlap(sk, "source", k=64).select(
        F.col("ga").alias("source_a"),
        F.col("gb").alias("source_b"),
        "est_jaccard",
    )
    # examined r15, left as-is: the three vocab consumers (counts +
    # both self-join sides) canonicalize to ONE token-keyed exchange
    # (ReusedExchange), and the KMV path never needs the full
    # distinct at all (its threshold prefilter reads the raw stream
    # map-side) — a shared materialize of tok.distinct() was measured
    # SLOWER (checkpoint overhead for sharing that exchange reuse
    # already provides; guide §1.1 empirical loop).
    vocab = tok.distinct()
    v = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    exact = (
        inter.join(v.select(F.col("source").alias("source_a"), F.col("nv").alias("va")), "source_a")
        .join(v.select(F.col("source").alias("source_b"), F.col("nv").alias("vb")), "source_b")
        .select(
            "source_a",
            "source_b",
            (
                F.col("i").cast("double") / (F.col("va") + F.col("vb") - F.col("i"))
            ).alias("exact_jaccard"),
        )
    )
    return est.join(exact, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "est_jaccard",
        F.coalesce("exact_jaccard", F.lit(0.0)).alias("exact_jaccard"),
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH qs(query_id, qtext) AS (
      VALUES ('q_join', 'hash merge join'),
             ('q_scan', 'table scan fast'),
             ('q_sort', 'sort window line')),
    qterms AS (
      SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term FROM qs),
    toks AS (
      SELECT doc_id, len({_TOK}) AS dl, unnest({_TOK}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
      FROM toks
      WHERE term IN (SELECT DISTINCT term FROM qterms)
      GROUP BY 1, 2),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(len({_TOK})) AS BIGINT) AS sum_dl
      FROM documents),
    dfreq AS (SELECT term, COUNT(*) AS dfd FROM tf GROUP BY 1),
    scored AS (
      SELECT q.query_id, t.doc_id,
             CAST(
               ((n_docs - dfd + 0.5) / (dfd + 0.5))
               * (t.tf * (1.5 + 1.0))
               / (t.tf + 1.5 * (1.0 - 0.75 + 0.75 * t.dl
                                / (CAST(sum_dl AS DOUBLE) / n_docs)))
               AS DECIMAL(38,12)) AS contrib
      FROM tf t
      JOIN dfreq f USING (term)
      JOIN qterms q USING (term)
      CROSS JOIN stats),
    agg AS (
      SELECT query_id, doc_id,
             CAST(SUM(contrib) AS DOUBLE) AS score,
             CAST(COUNT(*) AS INTEGER) AS n_terms
      FROM scored GROUP BY 1, 2),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER)
             AS rank
      FROM agg)
    SELECT query_id, doc_id, score, n_terms, rank FROM ranked WHERE rank <= 10
    """,
    gate=False,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (``operators.retrieval.bm25_topk``):
    three keyword queries ranked against the whole corpus, top-10
    each. The corpus token stream is filtered by the broadcast query
    vocabulary before the one corpus-sized shuffle (the tf
    aggregation); document frequency is computed vocabulary-side and
    broadcast back; score contributions are decimal-cast so the
    per-(query, doc) sum is reduction-order-independent. Gate variant
    uses the rational idf (cross-engine bit-identical — see
    operators/retrieval.py); the standard ln idf is pinned against a
    pure-python twin in tests/test_retrieval.py."""
    from ..operators.retrieval import bm25_topk

    docs = table(spark, sf_dir, "documents")
    queries_df = route.driver_frame(
        spark,
        [
            ("q_join", "hash merge join"),
            ("q_scan", "table scan fast"),
            ("q_sort", "sort window line"),
        ],
        "query_id string, query_text string",
    )
    return bm25_topk(docs, queries_df, k=10, idf="rational")


@query(
    "chunk_documents_windows",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOK} AS toks, len({_TOK}) AS n FROM documents),
    starts AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(n, 1), 6)) AS s
      FROM base),
    chunks AS (
      SELECT doc_id, s, len(toks[s+1:s+12]) AS n_chunk_tokens
      FROM starts)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN n_chunk_tokens = 12 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full_chunks,
           CAST(SUM(n_chunk_tokens) AS BIGINT) AS total_window_tokens,
           CAST(MAX(s) AS INTEGER) AS last_start
    FROM chunks GROUP BY 1
    """,
    gate=False,
)
def chunk_documents_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (``operators.chunking.chunk_documents``):
    12-token windows with stride 6 (50% overlap — the RAG/training
    context-window shape), aggregated to per-document window counts.
    Chunking is pure map-side JVM expressions (tokenize → clamped
    start sequence → explode → slice); the only shuffle is this
    demo's own per-doc aggregation. The DuckDB oracle rebuilds the
    windows with range + 1-indexed list slices."""
    from ..operators.chunking import chunk_documents

    docs = table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, size=12, stride=6)
    return chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("n_chunk_tokens") == 12).cast("bigint")).alias("n_full_chunks"),
        F.sum(F.col("n_chunk_tokens").cast("bigint")).alias("total_window_tokens"),
        F.max("chunk_start").alias("last_start"),
    )


@query(
    "chunk_dedup_segments",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOK} AS toks, len({_TOK}) AS n FROM documents),
    starts AS (
      SELECT doc_id, toks, unnest(range(0, greatest(n, 1), 4)) AS s FROM base),
    segs AS (
      SELECT doc_id, s,
             array_to_string(toks[s+1:s+4], ' ') AS seg_text,
             len(toks[s+1:s+4]) AS n_seg
      FROM starts),
    ranked AS (
      SELECT doc_id, s, n_seg,
             row_number() OVER (PARTITION BY md5(seg_text)
                                ORDER BY doc_id, s) AS rn
      FROM segs)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN n_seg ELSE 0 END) AS BIGINT)
             AS n_tokens_kept
    FROM ranked GROUP BY 1
    """,
    gate=False,
)
def chunk_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup (``operators.chunking.dedup_segments``,
    the CCNet sub-document dedup shape): disjoint 4-token segments,
    corpus-wide first occurrence of each fingerprint kept, aggregated
    to per-document retention stats (segments seen / kept / tokens
    surviving). Exactly one data shuffle — the fingerprint-keyed
    first-occurrence window over uniformly-distributed md5 keys. The
    DuckDB oracle replays the same ranking independently."""
    from ..operators.chunking import dedup_segments

    docs = table(spark, sf_dir, "documents")
    segs = dedup_segments(docs, size=4)
    return segs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("is_first").cast("bigint")).alias("n_kept"),
        F.sum(
            F.when(F.col("is_first"), F.col("n_chunk_tokens").cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("n_tokens_kept"),
    )


@query(
    "pack_documents_sequences",
    oracle=f"""
    WITH t AS (SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS n FROM documents),
    c AS (
      SELECT doc_id, n,
             COALESCE(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seq_start
      FROM t)
    SELECT CAST(seq_start // 256 AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM c GROUP BY 1
    """,
    gate=False,
)
def pack_documents_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing (``operators.packing``):
    concat-and-chunk — documents in doc_id order are laid into a
    virtual token stream cut every 256 tokens, each doc assigned to
    the sequence where it starts. The prefix sum runs as the two-pass
    distributed recipe (range partitions → partition-local window →
    driver prefix of the bounded per-partition totals → broadcast
    offsets), never a global single-partition window; the assignment
    is partitioning-independent, which the DuckDB oracle (a plain
    global window, fine at oracle scale) confirms."""
    from ..operators.packing import pack_sequences

    docs = table(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs.select("doc_id", TS.token_count("text").alias("n_tok")),
        "n_tok",
        budget=256,
    )
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tok").cast("bigint")).alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "kfold_documents",
    oracle="""
    WITH f AS (
      SELECT lang,
             CAST(CAST('0x'||substr(md5('fold:'||CAST(doc_id AS VARCHAR)),1,8)
                  AS BIGINT) % 5 AS INTEGER) AS fold,
             doc_id
      FROM documents)
    SELECT lang, fold,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM f GROUP BY 1, 2
    """,
    gate=False,
)
def kfold_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment
    (``operators.sampling.kfold_split``): fold = content-hash residue
    mod k — exact integer arithmetic, so fold membership is
    engine-identical and append-stable (a document never migrates
    between cross-validation folds on rebuild). Per-(lang, fold)
    counts demo; pure map-side before the demo aggregation."""
    from ..operators.sampling import kfold_split

    docs = table(spark, sf_dir, "documents")
    folds = kfold_split(docs, "doc_id", k=5)
    return folds.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "source_segment_overlap",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, {_TOK} AS toks, len({_TOK}) AS n FROM documents),
    segs AS (
      SELECT DISTINCT source AS g,
             md5(array_to_string(toks[s+1:s+4], ' ')) AS seg_fp
      FROM (SELECT source, toks,
                   unnest(range(0, greatest(n, 1), 4)) AS s
            FROM base)
      WHERE len(toks[s+1:s+4]) > 0)
    SELECT a.g AS group_a, b.g AS group_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_segments
    FROM segs a JOIN segs b ON a.seg_fp = b.seg_fp AND a.g < b.g
    GROUP BY 1, 2
    """,
    gate=False,
)
def source_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix
    (``operators.chunking.segment_overlap_matrix``): distinct shared
    4-token segments for every source pair — the shared-boilerplate /
    leakage census run before mixing corpora. Pair fan-out per
    fingerprint is bounded by the source-count squared, never the
    corpus, so hot boilerplate cannot blow up the join."""
    from ..operators.chunking import segment_overlap_matrix

    docs = table(spark, sf_dir, "documents")
    return segment_overlap_matrix(docs, "source", size=4)


@query(
    "corpus_curation_v2",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang, {_TOK} AS toks, len({_TOK}) AS n,
             length(regexp_replace(text, '\\s+', '', 'g')) / len({_TOK}) AS wl,
             len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\\.\\.\\.|…')) AS sym
      FROM documents),
    good AS (
      SELECT doc_id, lang, toks, n FROM s
      WHERE (n >= 10 AND n <= 100000)
        AND (wl >= 3.0 AND wl <= 10.0)
        AND (n > 0 AND sym / CAST(n AS DOUBLE) <= 0.1)
        AND (n > 0 AND len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
              / CAST(n AS DOUBLE) >= 0.8)
        AND (len(list_filter(['the','be','to','of','and','that','have','with'],
              w -> list_contains(list_transform(toks, t -> lower(t)), w))) >= 1)),
    segs AS (
      SELECT doc_id, st, array_to_string(toks[st+1:st+4], ' ') AS seg_text,
             len(toks[st+1:st+4]) AS n_seg
      FROM (SELECT doc_id, toks,
                   unnest(range(0, greatest(n, 1), 4)) AS st
            FROM good)),
    ranked AS (
      SELECT doc_id, n_seg,
             row_number() OVER (PARTITION BY md5(seg_text)
                                ORDER BY doc_id, st) AS rn
      FROM segs),
    per AS (
      SELECT doc_id,
             CAST(SUM(n_seg) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN rn = 1 THEN n_seg ELSE 0 END) AS BIGINT) AS n_kept
      FROM ranked GROUP BY 1),
    keepdocs AS (
      SELECT g.doc_id, g.lang, p.n_kept
      FROM good g JOIN per p USING (doc_id)
      WHERE p.n_kept * 2 >= p.n_total),
    c AS (SELECT
        (SELECT COUNT(*) FROM keepdocs WHERE lang = 'en') AS n_en,
        (SELECT COUNT(*) FROM keepdocs WHERE lang = 'de') AS n_de,
        (SELECT COUNT(*) FROM keepdocs WHERE lang NOT IN ('en','de')) AS n_ot),
    w AS (SELECT n_en, n_de, n_ot,
                 sqrt(CAST(n_en AS DOUBLE)) AS w_en,
                 sqrt(CAST(n_de AS DOUBLE)) AS w_de,
                 sqrt(CAST(n_ot AS DOUBLE)) AS w_ot
          FROM c),
    t AS (SELECT *, w_en + w_de + w_ot AS tw FROM w),
    f AS (SELECT *, least(n_en / (w_en / tw),
                          n_de / (w_de / tw),
                          n_ot / (w_ot / tw)) AS feas FROM t),
    r AS (SELECT least(1.0::DOUBLE, (feas * (w_en / tw)) / n_en) AS rate_en,
                 least(1.0::DOUBLE, (feas * (w_de / tw)) / n_de) AS rate_de,
                 least(1.0::DOUBLE, (feas * (w_ot / tw)) / n_ot) AS rate_ot
          FROM f),
    kept AS (
      SELECT 'en' AS source, doc_id, n_kept FROM keepdocs, r
      WHERE lang = 'en'
        AND CAST('0x'||substr(md5('tempmix:en:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
              / 4294967296.0 < rate_en
      UNION ALL
      SELECT 'de' AS source, doc_id, n_kept FROM keepdocs, r
      WHERE lang = 'de'
        AND CAST('0x'||substr(md5('tempmix:de:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
              / 4294967296.0 < rate_de
      UNION ALL
      SELECT 'other' AS source, doc_id, n_kept FROM keepdocs, r
      WHERE lang NOT IN ('en','de')
        AND CAST('0x'||substr(md5('tempmix:other:'||CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)
              / 4294967296.0 < rate_ot)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_kept) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM kept GROUP BY 1
    """,
    gate=False,
)
def corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-generation curation pipeline, composing this round's
    operators end-to-end in ONE declarative plan: Gopher quality gate
    (published thresholds, min_words=10 / 1 required stopword for the
    synthetic corpus) → segment-level exact dedup (4-token disjoint
    windows, corpus-wide first occurrence) → drop documents that lose
    more than half their tokens to boilerplate (exact integer rule:
    kept·2 ≥ total) → temperature-smoothed language mixture (α = 0.5,
    √n weights) → per-mixture-source corpus stats. Shuffles: the
    segment-fingerprint window, the per-doc retention aggregate, its
    join back, and the final stats — the gate and both sampling
    stages are map-side. The DuckDB oracle replays every stage
    independently, including the mixture's count/weight/rate
    arithmetic."""
    from ..operators.chunking import dedup_segments
    from ..operators.materialize import materialize
    from ..operators.sampling import temperature_mixture

    docs = table(spark, sf_dir, "documents")
    g = TS.gopher_rules("text", min_words=10, min_required_hits=1)
    good = (
        docs.withColumn("_g", g)
        .where(F.col("_g.passes"))
        .select("doc_id", "lang", "text")
    )
    segs = dedup_segments(good, size=4)
    per = segs.groupBy("doc_id").agg(
        F.sum(F.col("n_chunk_tokens").cast("bigint")).alias("n_total"),
        F.sum(
            F.when(F.col("is_first"), F.col("n_chunk_tokens").cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("n_kept"),
    )
    keep = good.select("doc_id", "lang").join(
        per.where(F.col("n_kept") * 2 >= F.col("n_total")).select("doc_id", "n_kept"),
        "doc_id",
    )
    # the mixture measures one count() per source at construction —
    # materialize the curated base so those counts and the final agg
    # don't re-run the gate + dedup window per branch
    keep = materialize(keep)
    # all three source counts in ONE grouped job over the materialized
    # base (vs one count() job per source)
    src = F.when(F.col("lang") == "en", "en").when(
        F.col("lang") == "de", "de"
    ).otherwise("other")
    counts = {"en": 0, "de": 0, "other": 0}
    for r in keep.groupBy(src.alias("_src")).count().collect():
        counts[r._src] = r["count"]
    mixed = temperature_mixture(
        {
            "en": keep.where(F.col("lang") == "en"),
            "de": keep.where(F.col("lang") == "de"),
            "other": keep.where(~F.col("lang").isin("en", "de")),
        },
        key="doc_id",
        alpha=0.5,
        counts=counts,
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_kept").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "chunk_dedup_reassembled",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOK} AS toks, len({_TOK}) AS n FROM documents),
    segs AS (
      SELECT doc_id, st,
             array_to_string(toks[st+1:st+4], ' ') AS seg_text,
             len(toks[st+1:st+4]) AS n_seg
      FROM (SELECT doc_id, toks, unnest(range(0, greatest(n, 1), 4)) AS st
            FROM base)),
    ranked AS (
      SELECT doc_id, st, seg_text, n_seg,
             row_number() OVER (PARTITION BY md5(seg_text)
                                ORDER BY doc_id, st) AS rn
      FROM segs)
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN seg_text END, ' '
                               ORDER BY st), '') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN n_seg ELSE 0 END) AS BIGINT)
             AS n_tokens_kept
    FROM ranked GROUP BY 1
    """,
    gate=False,
)
def chunk_dedup_reassembled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CCNet loop (``operators.chunking.
    reassemble_deduped_docs``): segment → corpus-wide first-occurrence
    dedup → reassemble each document from its surviving segments in
    original order. Output is the CLEANED CORPUS itself (boilerplate
    stripped, novel text intact), not just retention stats; the
    collected segments are struct-sorted so the text is deterministic
    under any partitioning. The DuckDB oracle rebuilds the clean text
    with an ordered string_agg."""
    from ..operators.chunking import reassemble_deduped_docs

    docs = table(spark, sf_dir, "documents")
    return reassemble_deduped_docs(docs, size=4)


@query(
    "vocab_encode_documents",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    occ AS (SELECT unnest(toks) AS token FROM base),
    counts AS (
      SELECT token, COUNT(*) AS cnt FROM occ GROUP BY 1
      HAVING COUNT(*) >= 3),
    vocab AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS INTEGER)
               AS token_id
      FROM counts),
    ex AS (
      SELECT doc_id, pos, toks[pos] AS token
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos
            FROM base)),
    j AS (
      SELECT e.doc_id, e.pos,
             COALESCE(v.token_id, -1) AS tid,
             (v.token_id IS NULL) AS oov
      FROM ex e LEFT JOIN vocab v USING (token)),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids
      FROM j GROUP BY 1)
    SELECT b.doc_id,
           COALESCE(a.n_tokens, 0) AS n_tokens,
           COALESCE(a.n_oov, 0) AS n_oov,
           COALESCE(a.ids, '') AS ids
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
    gate=False,
)
def vocab_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction + document encoding
    (``operators.vocab``): frequency-ranked token→id table
    (min_count=3; rank (count desc, token asc) — a total order, so
    ids are engine-identical), broadcast back onto the exploded
    corpus stream for encoding (the corpus is never shuffled by
    token), sequences reassembled in exact original order via struct
    sort, OOV tokens mapped to -1 and counted per document. The id
    sequence is emitted as a joined string (scalar-type comparator
    convention); the DuckDB oracle rebuilds vocabulary, ranks, and
    ordered encodings independently."""
    from ..operators.vocab import build_vocab, encode_documents, tokenize_corpus

    docs = table(spark, sf_dir, "documents")
    base = tokenize_corpus(docs)  # ONE tokenization pass for both stages
    vocab = build_vocab(min_count=3, tokens_df=base)
    enc = encode_documents(docs, vocab, tokens_df=base)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.array_join(F.transform("ids", lambda i: i.cast("string")), " ").alias("ids"),
    )


@query(
    "contrastive_negatives",
    oracle="""
    WITH idx AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY doc_id) - 1 AS row_index
      FROM documents),
    n AS (SELECT COUNT(*) AS n_rows FROM documents),
    draws AS (
      SELECT d.doc_id, CAST(j AS INTEGER) AS draw,
             CAST('0x'||substr(md5('neg:'||CAST(d.doc_id AS VARCHAR)||':'
                                   ||CAST(j AS VARCHAR)),1,8) AS BIGINT)
               % n.n_rows AS neg_idx
      FROM documents d CROSS JOIN n, unnest(range(0, 3)) AS t(j))
    SELECT dr.doc_id, dr.draw, i.doc_id AS neg_doc_id
    FROM draws dr JOIN idx i ON i.row_index = dr.neg_idx
    WHERE dr.doc_id <> i.doc_id
    """,
    gate=False,
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling
    (``operators.sequences.negative_samples``): 3 content-hash draws
    per document mapped to real ids through the distributed dense
    index (two-pass prefix sum — no global window), self-draws
    dropped. Reproducible across engines, partitionings, and retries
    — the DuckDB oracle redraws every negative independently."""
    from ..operators.sequences import negative_samples

    docs = table(spark, sf_dir, "documents")
    return negative_samples(docs, key_col="doc_id", k=3)


@query(
    "length_percentile_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, CAST(len({_TOK}) AS BIGINT) AS n_tok
               FROM documents),
    b AS (SELECT quantile_cont(n_tok, 0.05) AS lo,
                 quantile_cont(n_tok, 0.95) AS hi
          FROM t),
    kept AS (SELECT t.* FROM t, b WHERE t.n_tok >= b.lo AND t.n_tok <= b.hi)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM kept GROUP BY 1
    """,
    gate=False,
)
def length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band length filtering (the outlier-document trim of
    corpus curation): keep documents whose token count lies within
    the corpus's exact [p5, p95] band. The thresholds arrive as a
    1-row broadcast aggregate cross-joined into a map-side predicate
    — at 100 TB swap ``percentile`` for ``approx_percentile`` (the
    t-digest sketch; no global sort) and keep the identical plan
    shape. Interpolated-percentile arithmetic matches quantile_cont
    (the exact_percentiles precedent)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", TS.token_count("text").cast("bigint").alias("n_tok"))
    b = t.agg(
        F.expr("percentile(n_tok, 0.05)").alias("lo"),
        F.expr("percentile(n_tok, 0.95)").alias("hi"),
    )
    kept = t.crossJoin(F.broadcast(b)).where(
        (F.col("n_tok") >= F.col("lo")) & (F.col("n_tok") <= F.col("hi"))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(
    "text_clean_normalize",
    oracle="""
    WITH dirty AS (
      SELECT doc_id,
             chr(1) || text || '​  extra\t ' ||
               CASE WHEN doc_id % 2 = 0 THEN chr(7) ELSE '' END AS raw
      FROM documents),
    cleaned AS (
      SELECT doc_id, raw,
             lower(trim(regexp_replace(
               regexp_replace(
                 regexp_replace(raw, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                 '[​‌‍﻿]', '', 'g'),
               '\\s+', ' ', 'g'))) AS clean
      FROM dirty)
    SELECT doc_id, clean,
           CAST(length(raw) - length(clean) AS INTEGER) AS n_removed
    FROM cleaned
    """,
    gate=False,
)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (``operators.textstats.clean_text``):
    control-character strip, zero-width strip (the invisible dedup
    poison), whitespace collapse, trim, lowercase — the C4-style
    cleanup that runs before fingerprinting. The corpus carries no
    dirty bytes, so the query plants them deterministically (control
    chars, ZWSP, tab runs) on both engines and verifies the scrub
    byte-identically; ``n_removed`` counts the stripped characters."""
    docs = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("\x01"),
        F.col("text"),
        F.lit("​  extra\t "),
        F.when(F.col("doc_id") % 2 == 0, F.lit("\x07")).otherwise(F.lit("")),
    )
    dirty = docs.select("doc_id", raw.alias("raw"))
    cleaned = dirty.withColumn("clean", TS.clean_text(F.col("raw"), lowercase=True))
    return cleaned.select(
        "doc_id",
        "clean",
        (F.length("raw") - F.length("clean")).cast("int").alias("n_removed"),
    )


@query(
    "text_keywords_tfidf",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    n AS (SELECT COUNT(*) AS n_docs FROM base),
    occ AS (SELECT doc_id, unnest(toks) AS term FROM base),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM occ GROUP BY 1, 2),
    dfreq AS (
      SELECT term, COUNT(*) AS dfd
      FROM (SELECT DISTINCT doc_id, term FROM occ) GROUP BY 1),
    scored AS (
      SELECT t.doc_id, t.term,
             t.tf * (CAST(n.n_docs AS DOUBLE) / f.dfd) AS score
      FROM tf t JOIN dfreq f USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, score,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, term) AS INTEGER) AS rank
      FROM scored)
    SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3
    """,
    gate=False,
)
def text_keywords_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by the rational
    TF-IDF ``tf · N/df`` (log-free — bit-identical across engines;
    ranking order matches ln-IDF since ln is monotone), tie-broken by
    term so the cut is total-ordered. Document frequency is a
    vocabulary-sized aggregate, materialized once and joined back
    size-aware: broadcast under ``BROADCAST_VOCAB_MAX_ROWS`` (the
    corpus is shuffled once, by (doc, term) for tf), a plain
    term-keyed shuffle join above it — at 100 TB the df table is
    itself 10⁸⁺ rows and would OOM any broadcast budget. Token
    arrays are materialized before the explode per the
    interpreted-HOF discipline."""
    from pyspark.sql import Window

    from ..operators.materialize import materialize
    from ..operators.vocab import BROADCAST_VOCAB_MAX_ROWS

    docs = table(spark, sf_dir, "documents")
    base = materialize(docs.select("doc_id", TS.tokens(F.col("text")).alias("_toks")))
    occ = base.select("doc_id", F.explode("_toks").alias("term"))
    tf = occ.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = materialize(occ.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("dfd")))
    if dfreq.agg(F.count(F.lit(1))).collect()[0][0] <= BROADCAST_VOCAB_MAX_ROWS:
        dfreq = F.broadcast(dfreq)
    n = base.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        (F.col("tf") * (F.col("n_docs").cast("double") / F.col("dfd"))).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "score")
    )


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    uni AS (SELECT t AS token, COUNT(*) AS c
            FROM (SELECT unnest(toks) AS t FROM base) GROUP BY 1),
    tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_tok,
                   CAST(SUM(greatest(len(toks) - 1, 0)) AS BIGINT) AS n_pair
            FROM base),
    pairs AS (
      SELECT toks[pos] AS a, toks[pos + 1] AS b
      FROM (SELECT toks, unnest(range(1, len(toks))) AS pos
            FROM base WHERE len(toks) >= 2)),
    pc AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs
           GROUP BY 1, 2 HAVING COUNT(*) >= 5),
    scored AS (
      SELECT p.a, p.b, CAST(p.c_ab AS BIGINT) AS c_ab,
             CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b,
             CAST(p.c_ab AS DOUBLE) * t.n_tok * t.n_tok
               / (CAST(t.n_pair AS DOUBLE) * ua.c * ub.c) AS score
      FROM pc p JOIN uni ua ON p.a = ua.token
                JOIN uni ub ON p.b = ub.token CROSS JOIN tot t),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY score DESC, a, b) AS INTEGER)
             AS rank FROM scored)
    SELECT rank, a, b, c_ab, c_a, c_b, score FROM ranked WHERE rank <= 20
    """,
    gate=False,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (``operators.collocations.pmi_pairs``):
    top-20 adjacent token pairs by the rational PMI ratio
    ``P(a,b)/(P(a)·P(b))`` — log-free, so both engines produce the
    identical double from identical integer counts. The multiword-
    expression / tokenizer-merge-candidate detector."""
    from ..operators.collocations import pmi_pairs

    docs = table(spark, sf_dir, "documents")
    return pmi_pairs(docs)


@query(
    "text_lm_bigram_score",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    trans AS (
      SELECT doc_id, toks[pos] AS a, toks[pos + 1] AS b
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos
            FROM base WHERE len(toks) >= 2)),
    grams AS (SELECT a, b, COUNT(*) AS c_ab FROM trans GROUP BY 1, 2),
    ctx AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM grams GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT t) AS v
          FROM (SELECT unnest(toks) AS t FROM base)),
    p AS (
      SELECT t.doc_id,
             CAST(g.c_ab + 1 AS DOUBLE) / (c.c_a + v.v) AS p
      FROM trans t JOIN grams g USING (a, b) JOIN ctx c USING (a) CROSS JOIN v)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
           CAST(SUM(CAST(floor(p * CAST(1000000000 AS DOUBLE)) AS BIGINT))
                AS BIGINT) AS score_nano
    FROM p GROUP BY 1
    """,
    gate=False,
)
def text_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM likelihood
    (``operators.collocations.bigram_lm_scores``): add-one-smoothed
    transition probabilities fit on the corpus itself, summed per
    document in integer fixed-point (``Σ floor(p·1e9)`` — order-
    independent, hashable). The log-free stand-in for the CCNet-style
    perplexity quality filter: low mean transition probability =
    atypical token sequences."""
    from ..operators.collocations import bigram_lm_scores

    docs = table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs)


@query(
    "sketch_countmin_topk",
    oracle=f"""
    WITH tokc AS (SELECT t AS token, COUNT(*) AS c
                  FROM (SELECT unnest({_TOK}) AS t FROM documents) GROUP BY 1),
    lanes AS (SELECT unnest(range(0, 4)) AS lane),
    cms AS (
      SELECT lane,
             CAST('0x'||substr(md5('cms'||CAST(lane AS VARCHAR)||':'||token),1,8)
                  AS BIGINT) % 1024 AS bucket,
             CAST(SUM(c) AS BIGINT) AS bucket_n
      FROM tokc CROSS JOIN lanes GROUP BY 1, 2),
    top AS (
      SELECT token, exact_n, rank FROM (
        SELECT token, CAST(c AS BIGINT) AS exact_n,
               CAST(row_number() OVER (ORDER BY c DESC, token) AS INTEGER) AS rank
        FROM tokc) t
      WHERE rank <= 20),
    est AS (
      SELECT tp.rank, tp.token, tp.exact_n, MIN(c2.bucket_n) AS cms_est
      FROM top tp CROSS JOIN lanes l
      JOIN cms c2 ON c2.lane = l.lane AND c2.bucket =
        CAST('0x'||substr(md5('cms'||CAST(l.lane AS VARCHAR)||':'||tp.token),1,8)
             AS BIGINT) % 1024
      GROUP BY 1, 2, 3)
    SELECT rank, token, exact_n, cms_est,
           CAST(cms_est - exact_n AS BIGINT) AS overest
    FROM est
    """,
    gate=False,
)
def sketch_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch vs exact truth
    (``operators.sketch.countmin_topk``): a 4×1024-counter CMS built
    from the vocabulary counts, probed for the exact top-20 tokens;
    ``overest`` is the sketch's one-sided error. Unlike Spark's
    built-in ``count_min_sketch`` (seeded murmur, opaque binary),
    this md5-lane construction is engine-portable and the DuckDB
    oracle rebuilds the identical sketch."""
    from ..operators.sketch import countmin_topk

    docs = table(spark, sf_dir, "documents")
    return countmin_topk(docs)


@query(
    "sample_weighted_length",
    oracle="""
    WITH w AS (SELECT MAX(n_chars) AS wmax FROM documents)
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
           CAST('0x'||substr(md5('wsample:'||CAST(d.doc_id AS VARCHAR)),1,8)
                AS BIGINT) / 4294967296.0 AS draw_u
    FROM documents d CROSS JOIN w
    WHERE CAST('0x'||substr(md5('wsample:'||CAST(d.doc_id AS VARCHAR)),1,8)
               AS BIGINT) * w.wmax
          < d.n_chars * 4294967296
    """,
    gate=False,
)
def sample_weighted_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional deterministic sampling
    (``operators.sampling.sample_weighted``): keep each document with
    probability ``n_chars / max(n_chars)`` — the importance-sampling
    move that biases a corpus subsample toward long documents. The
    accept test is pure integer (``h·w_max < w·2³²``), so no float
    rounding can flip a row's fate between engines, layouts, or
    retries."""
    from ..operators.sampling import sample_weighted

    docs = table(spark, sf_dir, "documents")
    kept = sample_weighted(docs, "n_chars", "doc_id")
    return kept.select("doc_id", "source", "n_chars", "draw_u")


def _bpe_oracle(n_merges: int, weighted: bool) -> str:
    """DuckDB replay of the BPE merge loop as ``n_merges`` UNROLLED
    CTE levels (the loop count is a query constant, so "iterative
    fixpoint" dissolves into a fixed chain — the same move as the
    recursive-CTE greedy prune, unrolled because each level needs an
    aggregation over the previous level's table, which recursive
    CTEs disallow). Each level: adjacent-pair counts (overlaps
    counted, freq-weighted in the word variant) → (count desc, a, b)
    argmax → ONE string ``replace`` applying the greedy
    left-to-right non-overlapping fuse.

    The replace is exact BECAUSE of the encoding: every symbol is
    wrapped in U+0001 sentinels and symbols join with single spaces,
    so the pattern ``\\x01a\\x01 \\x01b\\x01`` can only match at
    symbol boundaries (no suffix false-positives), SQL replace's
    single left-to-right non-rescanning pass IS the greedy fuse, and
    consecutive overlapping occurrences resolve exactly like the
    python/Arrow pass ([a,a,a] → [a▁a, a]). Assumes corpus tokens
    never contain U+0001 (an oracle-representation assumption only —
    the engine path has no such restriction; a violating corpus
    would fail the mirror, which is the point)."""
    if weighted:
        base = f"""
    wf AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_TOK}) AS w FROM documents) GROUP BY 1),
    w0 AS MATERIALIZED (
      SELECT array_to_string(list_transform(range(1, length(w) + 1),
                 i -> chr(1) || w[i] || chr(1)), ' ') AS repr, freq
      FROM wf)"""
        weight_sel, weight_carry = "CAST(SUM(freq) AS BIGINT)", ", freq"
        after = "SUM(freq * len(string_split(repr, ' ')))"
        after_col = "corpus_tokens_after"
    else:
        base = f"""
    w0 AS MATERIALIZED (
      SELECT array_to_string(list_transform(t, x -> chr(1) || x || chr(1)),
                             ' ') AS repr
      FROM (SELECT {_TOK} AS t FROM documents WHERE text IS NOT NULL)
      WHERE len(t) >= 1)"""
        weight_sel, weight_carry = "CAST(count(*) AS BIGINT)", ""
        after = "SUM(len(string_split(repr, ' ')))"
        after_col = "corpus_units_after"
    parts, tops = [base], []
    for k in range(1, n_merges + 1):
        parts.append(f"""
    p{k} AS (
      SELECT s[i] AS wa, s[i + 1] AS wb, {weight_sel} AS c
      FROM (SELECT string_split(repr, ' ') AS s{weight_carry} FROM w{k - 1}),
           unnest(range(1, len(s))) AS u(i)
      GROUP BY 1, 2),
    t{k} AS MATERIALIZED (
      SELECT wa, wb, c, trim(wa, chr(1)) AS a, trim(wb, chr(1)) AS b
      FROM p{k} ORDER BY c DESC, trim(wa, chr(1)), trim(wb, chr(1)) LIMIT 1),
    w{k} AS MATERIALIZED (
      SELECT replace(repr, t.wa || ' ' || t.wb,
                     chr(1) || t.a || chr(9601) || t.b || chr(1))
               AS repr{weight_carry}
      FROM w{k - 1}, t{k} t)""")
        tops.append(f"SELECT {k - 1} AS step, a, b, c FROM t{k}")
    return (
        "WITH "
        + ",".join(parts)
        + f""",
    fin AS (SELECT CAST({after} AS BIGINT) AS {after_col}
            FROM w{n_merges}),
    m AS ({" UNION ALL ".join(tops)})
    SELECT CAST(step AS INTEGER) AS step, a, b, c AS count, {after_col}
    FROM m, fin"""
    )


@query("bpe_learn_merges", oracle=_bpe_oracle(8, weighted=False), gate=False)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level BPE merge learning (``operators.bpe.bpe_fit``):
    8 rounds of most-frequent-adjacent-pair fusion over the corpus.
    Incremental since round 6: the corpus-wide pair-count shuffle
    runs once; each round re-processes only the documents containing
    the winning pair and patches the count table with their
    before/after delta. Returns the learned rule table
    ``(step, a, b, count, corpus_units_after)`` — the tokenizer-
    training step every subword pipeline runs before vocab/encoding.
    PROMOTED from rows-only in r8: the fixed merge count unrolls the
    "iterative fixpoint" into an 8-level CTE chain whose sentinel-
    wrapped string replace reproduces the greedy fuse bit-for-bit
    (see ``_bpe_oracle``) — so the DELTA-PATCHED count table is now
    cross-checked against a full per-level recount by another
    engine, not only the python twin."""
    from ..operators.bpe import bpe_fit

    docs = table(spark, sf_dir, "documents")
    merges, units = bpe_fit(docs, n_merges=8)
    n_after = units.agg(F.sum(F.size("_toks"))).collect()[0][0]
    return route.driver_frame(
        spark,
        [(s, a, b, c, int(n_after)) for s, a, b, c in merges],
        "step int, a string, b string, count bigint, corpus_units_after bigint",
    )


@query(
    "bpe_learn_merges_words",
    oracle=_bpe_oracle(12, weighted=True),
    gate=False,
)
def bpe_learn_merges_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard subword BPE over the distinct-word frequency table
    (``operators.bpe.bpe_fit_words``): one corpus shuffle builds
    ``(word, freq)``, then every round's freq-weighted pair count and
    Arrow merge pass run over the word VOCABULARY (Heaps-law
    sublinear), never the corpus — the construction real tokenizer
    trainers use, and the scale path at 100 TB. Returns
    ``(step, a, b, count, corpus_tokens_after)`` where the token
    count comes from one ``bpe_apply_words`` encode pass (distinct-
    word replay + size-aware map join). PROMOTED from rows-only in
    r8 via the unrolled-CTE replay (``_bpe_oracle`` — 12 levels of
    freq-weighted pair recount + argmax + sentinel-wrapped greedy
    replace); the gate data exercises a real count TIE resolved by
    the (a asc, b asc) total order on both engines."""
    from ..operators.bpe import bpe_fit_words

    docs = table(spark, sf_dir, "documents")
    merges, words = bpe_fit_words(docs, n_merges=12)
    # corpus token count after the merges, WITHOUT an encode pass:
    # bpe_apply_words replays the same rules over the same corpus's
    # distinct-word table, so per word its subword split equals the
    # fit's finished ``_toks`` — hence
    #   Σ_docs |encode(doc)| = Σ_w freq(w)·|_toks(w)|
    # exactly (empty docs contribute 0 to both sides). The fit's own
    # word table already carries (freq, _toks); one bounded aggregate
    # replaces the distinct+12-merge-pass+posexplode-join encode
    # pipeline (~15 jobs at sf0.1). Document-level reassembly stays
    # covered by bpe_apply_words itself (vocab_encode_documents, the
    # OOV tests).
    n_after = words.agg(
        F.sum(F.col("freq") * F.size("_toks"))
    ).collect()[0][0]
    return route.driver_frame(
        spark,
        [(s, a, b, c, int(n_after)) for s, a, b, c in merges],
        "step int, a string, b string, count bigint, corpus_tokens_after bigint",
    )


@query(
    "reranker_training_triplets",
    oracle=f"""
    WITH qs(query_id, qtext) AS (
      VALUES ('q_join', 'hash merge join'),
             ('q_scan', 'table scan fast'),
             ('q_sort', 'sort window line')),
    qterms AS (
      SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term FROM qs),
    toks AS (
      SELECT doc_id, len({_TOK}) AS dl, unnest({_TOK}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
      FROM toks
      WHERE term IN (SELECT DISTINCT term FROM qterms)
      GROUP BY 1, 2),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(len({_TOK})) AS BIGINT) AS sum_dl
      FROM documents),
    dfreq AS (SELECT term, COUNT(*) AS dfd FROM tf GROUP BY 1),
    scored AS (
      SELECT q.query_id, t.doc_id,
             CAST(
               ((n_docs - dfd + 0.5) / (dfd + 0.5))
               * (t.tf * (1.5 + 1.0))
               / (t.tf + 1.5 * (1.0 - 0.75 + 0.75 * t.dl
                                / (CAST(sum_dl AS DOUBLE) / n_docs)))
               AS DECIMAL(38,12)) AS contrib
      FROM tf t
      JOIN dfreq f USING (term)
      JOIN qterms q USING (term)
      CROSS JOIN stats),
    agg AS (
      SELECT query_id, doc_id,
             CAST(SUM(contrib) AS DOUBLE) AS score
      FROM scored GROUP BY 1, 2),
    pos AS (
      SELECT query_id, doc_id AS pos_doc, rank FROM (
        SELECT *, CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER)
               AS rank
        FROM agg) t
      WHERE rank <= 3),
    draws AS (
      SELECT p.query_id, p.rank, p.pos_doc, d.draw,
             CAST('0x'||substr(md5('rr:'||p.query_id||':'
                  ||CAST(p.pos_doc AS VARCHAR)||':'
                  ||CAST(d.draw AS VARCHAR)),1,8) AS BIGINT)
               % (SELECT n_docs FROM stats) AS neg_idx
      FROM pos p CROSS JOIN (SELECT unnest(range(0, 2)) AS draw) d)
    SELECT w.query_id, w.rank, w.pos_doc, CAST(w.draw AS INTEGER) AS draw,
           doc.doc_id AS neg_doc
    FROM draws w JOIN documents doc ON doc.doc_id = w.neg_idx
    WHERE doc.doc_id <> w.pos_doc
    """,
    gate=False,
)
def reranker_training_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reranker training-example generation — the retrieval and
    sampling operators COMPOSED: BM25 top-3 per query as positives
    (``operators.retrieval.bm25_topk``, rational idf), 2 content-hash
    negatives per positive (the ``negative_samples`` recipe:
    ``md5('rr:'||query||pos||draw) % n_docs``, verified against the
    corpus by join — a draw landing on the positive is dropped, the
    documented under-delivery, never a biased redraw). Fully
    deterministic across engines/layouts/retries, so the training
    set is reproducible. Output: (query_id, rank, pos_doc, draw,
    neg_doc)."""
    from ..operators.retrieval import bm25_topk

    docs = table(spark, sf_dir, "documents")
    queries_df = route.driver_frame(
        spark,
        [
            ("q_join", "hash merge join"),
            ("q_scan", "table scan fast"),
            ("q_sort", "sort window line"),
        ],
        "query_id string, query_text string",
    )
    pos = bm25_topk(docs, queries_df, k=3, idf="rational").select(
        "query_id", "rank", F.col("doc_id").alias("pos_doc")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("rr:"),
                    F.col("query_id"),
                    F.lit(":"),
                    F.col("pos_doc").cast("string"),
                    F.lit(":"),
                    F.col("draw").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    draws = (
        pos.select(
            "query_id",
            "rank",
            "pos_doc",
            F.explode(F.sequence(F.lit(0), F.lit(1))).alias("draw"),
        )
        .crossJoin(F.broadcast(n))
        .withColumn("neg_idx", h % F.col("n_docs"))
    )
    ids = docs.select(F.col("doc_id").alias("neg_doc"))
    return (
        draws.join(ids, draws.neg_idx == ids.neg_doc)
        .where(F.col("neg_doc") != F.col("pos_doc"))
        .select("query_id", "rank", "pos_doc", F.col("draw").cast("int").alias("draw"), "neg_doc")
    )


@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH base AS (
      SELECT CAST('0x'||substr(md5('growth:'||CAST(doc_id AS VARCHAR)),1,8)
                  AS BIGINT) % 10 AS bucket,
             {_TOK} AS toks
      FROM documents),
    first_seen AS (
      SELECT t AS token, MIN(bucket) AS fb
      FROM (SELECT bucket, unnest(toks) AS t FROM base) GROUP BY 1),
    per AS (SELECT fb, COUNT(*) AS new_tokens FROM first_seen GROUP BY 1),
    docs_per AS (SELECT bucket, COUNT(*) AS n_docs FROM base GROUP BY 1),
    steps AS (SELECT unnest(range(0, 10)) AS step)
    SELECT CAST(s.step AS INTEGER) AS step,
           CAST(SUM(d.n_docs) AS BIGINT) AS cum_docs,
           CAST(SUM(COALESCE(p.new_tokens, 0)) AS BIGINT) AS cum_vocab
    FROM steps s
    JOIN docs_per d ON d.bucket <= s.step
    LEFT JOIN per p ON p.fb = d.bucket
    GROUP BY 1
    """,
    gate=False,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative distinct
    vocabulary vs cumulative corpus size over 10 deterministic
    hash-bucket prefixes of the corpus (the dataset-scaling telemetry
    that answers 'is the vocabulary saturating?'). Computed WITHOUT
    re-scanning per prefix: each token records the MIN bucket it
    appears in (one token-keyed shuffle), then the curve is a tiny
    10-row cumulative join — versus the naive 10 × count-distinct
    passes. Bucket assignment is the repo's md5 recipe, so both
    engines draw identical prefixes."""
    docs = table(spark, sf_dir, "documents")
    from ..operators.materialize import materialize

    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("growth:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    base = materialize(
        docs.select(bucket.alias("bucket"), TS.tokens(F.col("text")).alias("_toks"))
    )
    first_seen = (
        base.select("bucket", F.explode("_toks").alias("token"))
        .groupBy("token")
        .agg(F.min("bucket").alias("fb"))
    )
    per = first_seen.groupBy("fb").agg(F.count(F.lit(1)).alias("new_tokens"))
    docs_per = base.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_docs"))
    steps = spark.range(10).select(F.col("id").cast("int").alias("step"))
    joined = (
        steps.join(F.broadcast(docs_per), F.col("bucket") <= F.col("step"))
        .join(F.broadcast(per), F.col("fb") == F.col("bucket"), "left")
    )
    return joined.groupBy("step").agg(
        F.sum("n_docs").cast("bigint").alias("cum_docs"),
        F.sum(F.coalesce(F.col("new_tokens"), F.lit(0))).cast("bigint").alias("cum_vocab"),
    )


_B5 = "quick brown fox jumps over the lazy dog tonight"


@query(
    "corpus_curation_v3",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 20 IN (0, 1)
                  THEN text || ' {_B5}' ELSE text END AS text
      FROM documents),
    tok2 AS (SELECT doc_id, source, {_TOK} AS toks FROM planted),
    exg AS (
      SELECT doc_id AS doc, CAST(pos1 - 1 AS INTEGER) AS pos,
             toks[pos1] || ' ' || toks[pos1 + 1] || ' ' || toks[pos1 + 2] AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS pos1
            FROM tok2 WHERE len(toks) >= 3)),
    hotg AS (
      SELECT gram FROM exg GROUP BY gram
      HAVING COUNT(DISTINCT doc) >
             (SELECT COUNT(*) FROM tok2 WHERE len(toks) >= 3) * 0.25),
    exg2 AS (
      SELECT e.* FROM exg e
      WHERE NOT EXISTS (SELECT 1 FROM hotg h WHERE h.gram = e.gram)),
    mm AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM exg2 a JOIN exg2 b ON a.gram = b.gram AND a.doc < b.doc),
    runs AS (
      SELECT *, pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                        ORDER BY pa) AS run
      FROM mm),
    spans AS (
      SELECT doc_b, MIN(pb) AS start_b, COUNT(*) + 2 AS span_tokens
      FROM runs GROUP BY doc_a, doc_b, diag, run
      HAVING COUNT(*) + 2 >= 6),
    extok AS (
      SELECT doc_id, CAST(pos1 - 1 AS INTEGER) AS pos, toks[pos1] AS tok
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos1
            FROM tok2)),
    kept AS (
      SELECT e.* FROM extok e
      WHERE NOT EXISTS (
        SELECT 1 FROM spans r
        WHERE r.doc_b = e.doc_id
          AND e.pos >= r.start_b AND e.pos < r.start_b + r.span_tokens)),
    surv AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM kept GROUP BY 1 HAVING COUNT(*) >= 5),
    ktok AS (
      SELECT k.doc_id, k.tok,
             row_number() OVER (PARTITION BY k.doc_id ORDER BY k.pos) AS np
      FROM kept k JOIN surv s USING (doc_id)),
    trans AS (
      SELECT a.doc_id, a.tok AS ta, b.tok AS tb
      FROM ktok a JOIN ktok b ON a.doc_id = b.doc_id AND b.np = a.np + 1),
    grams AS (SELECT ta, tb, COUNT(*) AS c_ab FROM trans GROUP BY 1, 2),
    ctx AS (SELECT ta, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM grams GROUP BY 1),
    vv AS (SELECT COUNT(DISTINCT tok) AS v FROM ktok),
    lm AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
             CAST(SUM(CAST(floor(
               CAST(g.c_ab + 1 AS DOUBLE) / (c.c_a + vv.v)
               * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS score_nano
      FROM trans t JOIN grams g USING (ta, tb) JOIN ctx c USING (ta)
      CROSS JOIN vv GROUP BY 1),
    scored AS (
      SELECT s.doc_id, s.n_tokens, l.n_trans, l.score_nano,
             CAST(l.score_nano AS DOUBLE) / CAST(1000000000 AS DOUBLE)
               / l.n_trans AS mean_p
      FROM surv s JOIN lm l USING (doc_id)),
    med AS (SELECT quantile_cont(mean_p, 0.5) AS m FROM scored),
    q AS (SELECT sc.* FROM scored sc CROSS JOIN med WHERE sc.mean_p >= med.m),
    wmax AS (SELECT MAX(n_tokens) AS w FROM q),
    sampled AS (
      SELECT q.* FROM q CROSS JOIN wmax
      WHERE CAST('0x'||substr(md5('cv3:'||CAST(q.doc_id AS VARCHAR)),1,8)
                 AS BIGINT) * wmax.w
            < q.n_tokens * 4294967296)
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(s.n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(s.score_nano) AS BIGINT) AS sum_score_nano
    FROM sampled s JOIN planted p USING (doc_id)
    GROUP BY 1
    """,
    gate=False,
)
def corpus_curation_v3(
    spark: SparkSession, sf_dir: str, *, quantile: str = "exact"
) -> DataFrame:
    """Round-5 curation pipeline, ONE declarative plan with a full
    end-to-end oracle: exact repeated-SPAN dedup (cut the planted
    boilerplate from lower-priority copies — ``shared_spans`` with the
    ``max_gram_df_frac=0.25`` stop-gram cap, mirrored in the oracle →
    ``remove_spans``), drop sub-5-token remnants, bigram-LM quality
    gate on the CLEANED corpus (keep docs at or above the median mean
    transition probability — corpus-relative, so the gate adapts),
    length-weighted deterministic sampling (integer accept test),
    and the per-source token/likelihood report. Every stage is a
    previously-oracle-verified operator; the composition is what a
    production curation DAG actually runs.

    ``quantile`` picks the median strategy (round-5 verdict item #3):
    ``"exact"`` (default, matches the oracle) buffers the corpus's
    distinct per-doc doubles in ONE reducer — the single-group exact
    percentile worst case, fine at gate/bench SF but an executor OOM
    at 10⁹ documents; ``"approx"`` swaps in ``approx_percentile``
    (t-digest: bounded memory, mergeable partials; keep/drop can
    differ only for docs within the sketch's rank-error band of the
    median); ``"bucketed"`` (round 6) gets the EXACT interpolated
    median with bounded memory via bucketed selection
    (``operators.orderstats.exact_median`` — 1024-row histogram
    shuffles, no value buffer), i.e. exactness AND the 100 TB memory
    profile, at the cost of a few extra bounded driver jobs."""
    from ..operators.collocations import bigram_lm_scores
    from ..operators.dedup import remove_spans, shared_spans
    from ..operators.sampling import sample_weighted

    docs = table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 <= 1, F.concat(F.col("text"), F.lit(f" {_B5}"))
        ).otherwise(F.col("text")),
    )
    cleaned = remove_spans(
        planted, shared_spans(planted, n=3, min_len=6, max_gram_df_frac=0.25)
    )
    surv = cleaned.where(F.col("n_tokens") >= 5).select(
        "doc_id", "n_tokens", "text"
    )
    lm = bigram_lm_scores(surv)
    scored = surv.join(lm, "doc_id").withColumn(
        "mean_p",
        F.col("score_nano").cast("double")
        / F.lit(1000000000.0).cast("double")
        / F.col("n_trans"),
    )
    if quantile == "bucketed":
        from ..operators.materialize import materialize
        from ..operators.orderstats import exact_median

        scored = materialize(scored)
        # scored is already materialized for the two consumers below —
        # the descent's own persist would be a redundant second pass
        _, m = exact_median(scored, "mean_p", cache=False)
        q = scored.where(F.col("mean_p") >= F.lit(m))
    else:
        if quantile == "approx":
            med_expr = F.approx_percentile("mean_p", F.lit(0.5), F.lit(10000))
        elif quantile == "exact":
            med_expr = F.percentile("mean_p", F.lit(0.5))
        else:
            raise ValueError(
                f"quantile must be 'exact', 'approx' or 'bucketed', got {quantile!r}"
            )
        med = scored.agg(med_expr.alias("m"))
        q = scored.crossJoin(F.broadcast(med)).where(F.col("mean_p") >= F.col("m"))
    sampled = sample_weighted(q, "n_tokens", "doc_id", salt="cv3")
    return (
        sampled.join(planted.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum("score_nano").cast("bigint").alias("sum_score_nano"),
        )
    )


@query(
    "token_odds_ratio_langs",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest({_TOK}) AS term
      FROM documents WHERE lang IN ('en', 'de')),
    c AS (
      SELECT term,
             CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_en,
             CAST(COUNT(*) FILTER (WHERE lang = 'de') AS BIGINT) AS c_de
      FROM tok GROUP BY 1),
    t AS (
      SELECT CAST(SUM(c_en) AS BIGINT) AS n_en,
             CAST(SUM(c_de) AS BIGINT) AS n_de,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM c)
    SELECT term, c_en, c_de,
           CAST((c_en + 1) * (n_de + v) AS DOUBLE)
             / CAST((c_de + 1) * (n_en + v) AS DOUBLE) AS odds_ratio
    FROM c, t
    """,
    gate=False,
)
def token_odds_ratio_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-slice token-distribution divergence: add-one-smoothed
    odds ratio of each token between two language slices — the
    mixture-debugging / slice-drift probe (which tokens are
    over-represented in slice A vs slice B?). Deliberately an ODDS
    RATIO, not log-odds: ln() is libm-dependent (not correctly
    rounded, can differ in the last ulp between JVM and DuckDB) while
    the ratio is exact integer products with ONE double division —
    engine-identical. Callers wanting log-odds take ln() downstream.

    Scale: one token-keyed count shuffle (map-side partials over the
    conditional-count pair), a 1-row totals broadcast — the same
    shape as TF-IDF without the per-doc join."""
    docs = table(spark, sf_dir, "documents")
    from ..operators.textstats import tokens as _tokens

    tok = (
        docs.where(F.col("lang").isin("en", "de"))
        .select("lang", F.explode(_tokens(F.col("text"))).alias("term"))
    )
    c = tok.groupBy("term").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("c_en"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0))
        .cast("bigint")
        .alias("c_de"),
    )
    t = c.agg(
        F.sum("c_en").cast("bigint").alias("n_en"),
        F.sum("c_de").cast("bigint").alias("n_de"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "term",
        "c_en",
        "c_de",
        (
            ((F.col("c_en") + 1) * (F.col("n_de") + F.col("v"))).cast("double")
            / ((F.col("c_de") + 1) * (F.col("n_en") + F.col("v"))).cast("double")
        ).alias("odds_ratio"),
    )


@query(
    "kwic_concordance",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
    pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
    hit AS (SELECT doc_id, t, i FROM pos WHERE t[i] = 'merge')
    SELECT doc_id,
           CAST(i - 1 AS INTEGER) AS pos,
           coalesce(array_to_string(t[greatest(i - 3, 1):i - 1], ' '), '') AS left_ctx,
           coalesce(array_to_string(t[i + 1:least(i + 3, len(t))], ' '), '') AS right_ctx
    FROM hit
    """,
    gate=False,
)
def kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance: every occurrence of a query
    term with its ±3-token context windows — the corpus-inspection
    primitive behind memorization audits and targeted-decontamination
    review (what surrounds the leaked string?).

    Scale: entirely MAP-SIDE — tokenize, positional explode, term
    filter, and two array slices in one pass; zero shuffles, and the
    term filter sits directly on the exploded generator output. The
    0-based ``pos`` makes results joinable back to span-dedup
    offsets (``dedup_shared_spans`` positions)."""
    docs = table(spark, sf_dir, "documents")
    from ..operators.textstats import tokens as _tokens

    toks = docs.select("doc_id", _tokens(F.col("text")).alias("t"))
    ex = toks.select(
        "doc_id", "t", F.posexplode("t").alias("pos", "w")
    ).where(F.col("w") == "merge")
    left = F.slice(
        "t", F.greatest(F.col("pos") - 2, F.lit(1)), F.least(F.lit(3), F.col("pos"))
    )
    right = F.slice("t", F.col("pos") + 2, F.lit(3))
    return ex.select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.array_join(left, " ").alias("left_ctx"),
        F.array_join(right, " ").alias("right_ctx"),
    )


@query(
    "sample_bottomk_documents",
    oracle="""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             CAST('0x'||substr(md5('bk:'||CAST(doc_id AS VARCHAR)),1,8)
               AS BIGINT) AS hv
      FROM documents)
    SELECT doc_id, source, n_chars, hv
    FROM h ORDER BY hv, doc_id LIMIT 40
    """,
    gate=False,
)
def sample_bottomk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (min-hash order) deterministic uniform sample: the 40
    documents with the smallest md5-prefix hash of their id — the
    mergeable fixed-size sample every audit/eyeball/holdout workflow
    wants. Unlike ``TABLESAMPLE``/``df.sample`` (partition-dependent
    RNG) the keep-set is a pure function of doc ids: stable across
    engines, layouts, retries, AND corpus growth (a doc already in
    the sample leaves only when a smaller-hash doc arrives — the
    bottom-k union/merge property KMV sketches share).

    Scale: one map-side hash + ``TakeOrderedAndProject`` (plan-pinned
    — per-partition top-40 tree-reduce, never a global sort)."""
    docs = table(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("bk:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return (
        docs.select("doc_id", "source", "n_chars", hv.alias("hv"))
        .orderBy("hv", "doc_id")
        .limit(40)
    )


@query(
    "dsir_importance_select",
    oracle=f"""
    WITH base AS (SELECT doc_id, lang, {_TOK} AS toks FROM documents),
    trans AS (
      SELECT doc_id, toks[pos] AS a, toks[pos + 1] AS b
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos
            FROM base WHERE len(toks) >= 2)),
    g_all AS (SELECT a, b, COUNT(*) AS c_ab FROM trans GROUP BY 1, 2),
    c_all AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM g_all GROUP BY 1),
    v_all AS (SELECT COUNT(DISTINCT t) AS v
              FROM (SELECT unnest(toks) AS t FROM base)),
    s_all AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trans,
             CAST(SUM(CAST(floor(CAST(g.c_ab + 1 AS DOUBLE) / (c.c_a + v.v)
                  * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_raw
      FROM trans t JOIN g_all g USING (a, b) JOIN c_all c USING (a)
      CROSS JOIN v_all v GROUP BY 1),
    t_base AS (SELECT doc_id, toks FROM base WHERE lang = 'en'),
    t_trans AS (
      SELECT doc_id, toks[pos] AS a, toks[pos + 1] AS b
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos
            FROM t_base WHERE len(toks) >= 2)),
    g_t AS (SELECT a, b, COUNT(*) AS c_ab FROM t_trans GROUP BY 1, 2),
    c_t AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM g_t GROUP BY 1),
    v_t AS (SELECT COUNT(DISTINCT t) AS v
            FROM (SELECT unnest(toks) AS t FROM t_base)),
    s_t AS (
      SELECT t.doc_id,
             CAST(SUM(CAST(floor(CAST(COALESCE(g.c_ab, 0) + 1 AS DOUBLE)
                  / (COALESCE(c.c_a, 0) + v.v)
                  * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_tgt
      FROM trans t LEFT JOIN g_t g USING (a, b) LEFT JOIN c_t c USING (a)
      CROSS JOIN v_t v GROUP BY 1),
    w AS (
      SELECT s_all.doc_id, s_all.n_trans, s_tgt, s_raw,
             (s_tgt * 1000000) // s_raw AS w_ppm
      FROM s_all JOIN s_t USING (doc_id) WHERE s_raw > 0),
    wmax AS (SELECT MAX(w_ppm) AS m FROM w),
    kept AS (
      SELECT w.* FROM w CROSS JOIN wmax
      WHERE CAST('0x'||substr(md5('dsir:'||CAST(w.doc_id AS VARCHAR)),1,8)
                 AS BIGINT) * wmax.m
            < w.w_ppm * 4294967296)
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(k.w_ppm) AS BIGINT) AS sum_w_ppm,
           CAST(SUM(k.n_trans) AS BIGINT) AS sum_trans
    FROM kept k JOIN documents d USING (doc_id) GROUP BY 1
    """,
    gate=False,
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, bigram-LM
    flavor): score every document under a TARGET-domain LM (here the
    'en' slice) and under the raw-corpus LM, take the fixed-point
    likelihood ratio ``w_ppm = s_target·10⁶ div s_raw`` as the
    importance weight, and keep documents by the deterministic
    integer-weighted sampler — the data-selection pipeline that
    up-samples target-domain-looking text. Per-language report shows
    the selection tilting toward the target slice.

    Every stage is a previously-verified operator: cross-model
    ``bigram_lm_scores`` (round-6 ``train_docs`` parameter; unseen
    transitions smooth to ``1/(c_a+V)`` via LEFT joins),
    ``sample_weighted`` (DECIMAL accept test). Scale: two transition
    shuffles (corpus + target slice), size-aware LM joins, one
    doc-keyed reduce each; the ratio and accept test are map-side
    integer arithmetic. The ratio product runs in DECIMAL(38,0)
    (advisor r6): ``s_tgt·10⁶`` exceeds int64 once a doc has ~9,200
    transitions — common in real corpora — and would wrap (non-ANSI)
    or throw (ANSI) in bigint; the decimal product is exact to 10³⁸
    and the quotient is cast back to bigint (safe: w_ppm ≤ 10⁶ ·
    s_tgt/s_raw, a likelihood ratio that only nears int64 when the
    two LMs disagree by 10¹³ — not a reachable score gap)."""
    from ..operators.collocations import bigram_lm_scores
    from ..operators.materialize import materialize
    from ..operators.sampling import sample_weighted
    from ..operators.util import in_parallel

    docs = table(spark, sf_dir, "documents")
    # ONE tokenize+checkpoint serves both LM fits (r15, guide §2.3):
    # the raw-corpus model, the target-slice model (a lang filter of
    # the same frame), and the scored transition stream all read it —
    # the per-call _tok_base used to tokenize the corpus three times.
    # The two model builds (grams+ctx materializes each) are
    # independent; overlap their submission (guide §2.6).
    toksb = materialize(
        docs.select("doc_id", "lang", TS.tokens(F.col("text")).alias("toks"))
    )
    tgt_base = toksb.where(F.col("lang") == "en")
    raw, tgt = in_parallel(
        lambda: bigram_lm_scores(docs, base=toksb).select(
            "doc_id", "n_trans", F.col("score_nano").alias("s_raw")
        ),
        lambda: bigram_lm_scores(
            docs, base=toksb, train_base=tgt_base
        ).select("doc_id", F.col("score_nano").alias("s_tgt")),
    )
    w = (
        raw.join(tgt, "doc_id")
        .where(F.col("s_raw") > 0)
        # DECIMAL(38,0) product — s_tgt·10⁶ wraps int64 past ~9,200
        # transitions (advisor r6); quotient fits bigint
        .withColumn(
            "w_ppm",
            F.expr("CAST(CAST(s_tgt AS DECIMAL(38,0)) * 1000000 DIV s_raw AS BIGINT)"),
        )
    )
    kept = sample_weighted(w, "w_ppm", "doc_id", salt="dsir")
    return (
        kept.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("w_ppm").cast("bigint").alias("sum_w_ppm"),
            F.sum("n_trans").cast("bigint").alias("sum_trans"),
        )
    )


@query(
    "text_skipgram_pmi",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    pairs AS (
      SELECT toks[pos] AS a, toks[pos + k] AS b
      FROM (SELECT toks, k,
                   unnest(range(1, greatest(len(toks) - k, 0) + 1)) AS pos
            FROM (SELECT toks, unnest(range(1, 4)) AS k FROM base))),
    uni AS (SELECT t AS token, COUNT(*) AS c
            FROM (SELECT unnest(toks) AS t FROM base) GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_tok,
             CAST(SUM(greatest(len(toks) - 1, 0) + greatest(len(toks) - 2, 0)
                  + greatest(len(toks) - 3, 0)) AS BIGINT) AS n_pair
      FROM base),
    pc AS (SELECT a, b, COUNT(*) AS c_ab FROM pairs
           GROUP BY 1, 2 HAVING COUNT(*) >= 5),
    scored AS (
      SELECT p.a, p.b, CAST(p.c_ab AS BIGINT) AS c_ab,
             CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b,
             CAST(p.c_ab AS DOUBLE) * t.n_tok * t.n_tok
               / (CAST(t.n_pair AS DOUBLE) * ua.c * ub.c) AS score
      FROM pc p JOIN uni ua ON p.a = ua.token
                JOIN uni ub ON p.b = ub.token CROSS JOIN tot t),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY score DESC, a, b) AS INTEGER)
             AS rank FROM scored)
    SELECT rank, a, b, c_ab, c_a, c_b, score FROM ranked WHERE rank <= 20
    """,
    gate=False,
)
def text_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed (skip-gram, distances 1..3) PMI collocations
    (``operators.collocations.skipgram_pmi_pairs``) — the
    word2vec-style co-occurrence statistic that catches collocations
    across intervening tokens, where ``text_pmi_collocations`` sees
    only adjacent bigrams. The pair stream is built map-side as one
    array expression (no positional self-join), one (a, b) shuffle,
    size-aware unigram joins, TakeOrderedAndProject top-20."""
    from ..operators.collocations import skipgram_pmi_pairs

    docs = table(spark, sf_dir, "documents")
    return skipgram_pmi_pairs(docs, window=3)


@query(
    "features_hashing_trick",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS t FROM documents)
    SELECT doc_id,
           CAST(CAST('0x'||substr(md5('feat:'||t),1,8) AS BIGINT) % 64
                AS INTEGER) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM tok GROUP BY 1, 2
    """,
    gate=False,
)
def features_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer (Weinberger et al. 2009): sparse
    64-dim bag-of-words vectors as ``(doc_id, dim, n)`` rows with
    ``dim = md5(token) mod 64`` — the fixed-width, vocabulary-free
    document featurization that feeds the linear probe
    (``operators/linear.py``) without a vocabulary build or a
    train/serve vocab-drift hazard. One map-side hash + ONE
    (doc, dim)-keyed count shuffle; output is ≤ 64 rows per document
    regardless of vocabulary size, and the md5 hash makes the exact
    feature values engine-reproducible."""
    docs = table(spark, sf_dir, "documents")
    from ..operators.textstats import tokens as _tokens

    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("t"))
    dim = (
        F.conv(F.substring(F.md5(F.concat(F.lit("feat:"), F.col("t"))), 1, 8), 16, 10)
        .cast("bigint")
        % 64
    ).cast("int")
    return tok.groupBy("doc_id", dim.alias("dim")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@query(
    "corpus_curation_v4",
    oracle=f"""
    WITH p1 AS (
      SELECT doc_id, source, lang,
             CASE WHEN doc_id % 15 = 0
                  THEN text || ' ' || array_to_string(({_TOK})[1:8], ' ')
                  ELSE text END AS t1
      FROM documents),
    planted AS (
      SELECT doc_id, source, lang,
             CASE WHEN doc_id % 20 IN (0, 1)
                  THEN t1 || ' {_B5}' ELSE t1 END AS text
      FROM p1),
    tok2 AS MATERIALIZED (SELECT doc_id, source, lang,
                    list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')
                      AS toks
             FROM planted),
    exi AS MATERIALIZED (
      SELECT doc_id AS doc, CAST(pos1 - 1 AS INTEGER) AS pos,
             toks[pos1] || ' ' || toks[pos1 + 1] || ' ' || toks[pos1 + 2] AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS pos1
            FROM tok2 WHERE len(toks) >= 3)),
    mi AS (
      SELECT a.doc AS doc, a.pos AS pa, b.pos AS pb, b.pos - a.pos AS shift
      FROM exi a JOIN exi b ON a.gram = b.gram AND a.doc = b.doc AND a.pos < b.pos),
    runsi AS (
      SELECT *, pa - row_number() OVER (PARTITION BY doc, shift ORDER BY pa) AS run
      FROM mi),
    spansi AS (
      SELECT doc, MIN(pb) AS start_b, COUNT(*) + 2 AS span_tokens
      FROM runsi GROUP BY doc, shift, run HAVING COUNT(*) + 2 >= 6),
    covi AS (
      SELECT DISTINCT doc, unnest(range(start_b, start_b + span_tokens)) AS p
      FROM spansi),
    posi AS MATERIALIZED (
      SELECT doc_id AS doc, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tok2)),
    kept1 AS MATERIALIZED (
      SELECT p.* FROM posi p
      WHERE NOT EXISTS (SELECT 1 FROM covi c WHERE c.doc = p.doc AND c.p = p.pos)),
    tok3 AS MATERIALIZED (SELECT doc, list(tok ORDER BY pos) AS toks FROM kept1 GROUP BY 1),
    exg AS MATERIALIZED (
      SELECT doc, CAST(pos1 - 1 AS INTEGER) AS pos,
             toks[pos1] || ' ' || toks[pos1 + 1] || ' ' || toks[pos1 + 2] AS gram
      FROM (SELECT doc, toks, unnest(range(1, len(toks) - 1)) AS pos1
            FROM tok3 WHERE len(toks) >= 3)),
    hotg AS (
      SELECT gram FROM exg GROUP BY gram
      HAVING COUNT(DISTINCT doc) >
             (SELECT COUNT(*) FROM tok3 WHERE len(toks) >= 3) * 0.25),
    exg2 AS MATERIALIZED (
      SELECT e.* FROM exg e
      WHERE NOT EXISTS (SELECT 1 FROM hotg h WHERE h.gram = e.gram)),
    mm AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM exg2 a JOIN exg2 b ON a.gram = b.gram AND a.doc < b.doc),
    runs AS (
      SELECT *, pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                        ORDER BY pa) AS run
      FROM mm),
    spans AS (
      SELECT doc_b, MIN(pb) AS start_b, COUNT(*) + 2 AS span_tokens
      FROM runs GROUP BY doc_a, doc_b, diag, run HAVING COUNT(*) + 2 >= 6),
    extok AS MATERIALIZED (
      SELECT doc, CAST(pos1 - 1 AS INTEGER) AS pos, toks[pos1] AS tok
      FROM (SELECT doc, toks, unnest(range(1, len(toks) + 1)) AS pos1 FROM tok3)),
    kept2 AS MATERIALIZED (
      SELECT e.* FROM extok e
      WHERE NOT EXISTS (
        SELECT 1 FROM spans r
        WHERE r.doc_b = e.doc
          AND e.pos >= r.start_b AND e.pos < r.start_b + r.span_tokens)),
    surv AS (
      SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM kept2 GROUP BY 1 HAVING COUNT(*) >= 5),
    ktok AS MATERIALIZED (
      SELECT k.doc, k.tok,
             row_number() OVER (PARTITION BY k.doc ORDER BY k.pos) AS np
      FROM kept2 k JOIN surv s USING (doc)),
    trans AS MATERIALIZED (
      SELECT a.doc, a.tok AS ta, b.tok AS tb
      FROM ktok a JOIN ktok b ON a.doc = b.doc AND b.np = a.np + 1),
    grams AS MATERIALIZED (SELECT ta, tb, COUNT(*) AS c_ab FROM trans GROUP BY 1, 2),
    ctx AS MATERIALIZED (SELECT ta, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM grams GROUP BY 1),
    vv AS (SELECT COUNT(DISTINCT tok) AS v FROM ktok),
    s_all AS MATERIALIZED (
      SELECT t.doc, CAST(COUNT(*) AS BIGINT) AS n_trans,
             CAST(SUM(CAST(floor(
               CAST(g.c_ab + 1 AS DOUBLE) / (c.c_a + vv.v)
               * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_raw
      FROM trans t JOIN grams g USING (ta, tb) JOIN ctx c USING (ta)
      CROSS JOIN vv GROUP BY 1),
    ten AS (
      SELECT s.doc FROM surv s JOIN tok2 t ON t.doc_id = s.doc
      WHERE t.lang = 'en'),
    transt AS MATERIALIZED (SELECT tr.* FROM trans tr JOIN ten USING (doc)),
    gramt AS MATERIALIZED (SELECT ta, tb, COUNT(*) AS c_ab FROM transt GROUP BY 1, 2),
    ctxt AS MATERIALIZED (SELECT ta, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM gramt GROUP BY 1),
    vt AS (SELECT COUNT(DISTINCT k.tok) AS v
           FROM ktok k JOIN ten USING (doc)),
    s_t AS MATERIALIZED (
      SELECT t.doc,
             CAST(SUM(CAST(floor(
               CAST(COALESCE(g.c_ab, 0) + 1 AS DOUBLE)
               / (COALESCE(c.c_a, 0) + vt.v)
               * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_tgt
      FROM trans t LEFT JOIN gramt g USING (ta, tb) LEFT JOIN ctxt c USING (ta)
      CROSS JOIN vt GROUP BY 1),
    w AS MATERIALIZED (
      SELECT s_all.doc, sv.n_tokens, s_all.n_trans, s_tgt, s_raw,
             (s_tgt * 1000000) // s_raw AS w_ppm
      FROM s_all JOIN s_t USING (doc) JOIN surv sv USING (doc)
      WHERE s_raw > 0),
    wmax AS (SELECT MAX(w_ppm) AS m FROM w),
    sampled AS (
      SELECT w.* FROM w CROSS JOIN wmax
      WHERE CAST('0x'||substr(md5('cv4:'||CAST(w.doc AS VARCHAR)),1,8)
                 AS BIGINT) * wmax.m
            < w.w_ppm * 4294967296)
    SELECT p.source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(s.n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(s.w_ppm) AS BIGINT) AS sum_w_ppm
    FROM sampled s JOIN planted p ON p.doc_id = s.doc
    GROUP BY 1
    """,
    gate=False,
)
def corpus_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 capstone curation pipeline, ONE composition with a
    full end-to-end oracle — the v3 chain extended at BOTH ends:
    plant both repeat pathologies (each 15th doc echoes its own first
    8 tokens; each 20th/21st carries the shared boilerplate tail),
    then (1) WITHIN-document span dedup (find + cut the later copy),
    (2) cross-document span dedup on the already-self-cleaned corpus
    (df-capped at 0.25, keep-first-copy cut), (3) ≥5-token survivor
    gate, and (4) DSIR-style selection replacing v3's hard median
    gate: survivors are scored under the survivors' own LM and under
    a target-domain LM (the 'en' survivor slice), and kept by the
    deterministic integer-weighted sampler with the fixed-point
    likelihood ratio as weight — soft reweighting toward the target
    distribution instead of a quality cliff. Per-source report.

    Every stage is a previously-oracle-verified operator
    (``internal_repeated_spans``/``remove_internal_spans``,
    ``shared_spans``/``remove_spans``, cross-model
    ``bigram_lm_scores``, ``sample_weighted``); scale shapes inherit
    from each (doc-keyed gram joins, df-capped cross join, size-aware
    LM joins, map-side accept test)."""
    from ..operators import dedup as DD
    from ..operators import textstats as TS
    from ..operators.collocations import bigram_lm_scores
    from ..operators.sampling import sample_weighted

    docs = table(spark, sf_dir, "documents")
    first8 = F.array_join(F.slice(TS.tokens(F.col("text")), 1, 8), " ")
    p1 = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 15 == 0, F.concat(F.col("text"), F.lit(" "), first8)
        ).otherwise(F.col("text")),
    )
    planted = p1.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 <= 1, F.concat(F.col("text"), F.lit(f" {_B5}"))
        ).otherwise(F.col("text")),
    )
    from ..operators.materialize import materialize

    # materialize between stages: each cleaned corpus is consumed by
    # MULTIPLE downstream frames (span find + cut + LM base), and
    # without the cut the whole reassembly lineage re-runs per
    # consumer (first un-materialized draft: 229 s at sf0.01; with
    # stage cuts: ~30 s)
    t1 = materialize(
        DD.remove_internal_spans(
            planted, DD.internal_repeated_spans(planted, n=3, min_len=6)
        )
    )
    t2 = materialize(
        DD.remove_spans(
            t1, DD.shared_spans(t1, n=3, min_len=6, max_gram_df_frac=0.25)
        )
    )
    surv = materialize(
        t2.where(F.col("n_tokens") >= 5).select("doc_id", "n_tokens", "text")
    )
    tgt_train = surv.join(
        docs.where(F.col("lang") == "en").select("doc_id"), "doc_id", "left_semi"
    )
    raw = bigram_lm_scores(surv).select(
        "doc_id", "n_trans", F.col("score_nano").alias("s_raw")
    )
    tgt = bigram_lm_scores(surv, train_docs=tgt_train).select(
        "doc_id", F.col("score_nano").alias("s_tgt")
    )
    w = (
        raw.join(tgt, "doc_id")
        .join(surv.select("doc_id", "n_tokens"), "doc_id")
        .where(F.col("s_raw") > 0)
        # DECIMAL(38,0) product — same advisor-r6 overflow fix as
        # dsir_importance_select
        .withColumn(
            "w_ppm",
            F.expr("CAST(CAST(s_tgt AS DECIMAL(38,0)) * 1000000 DIV s_raw AS BIGINT)"),
        )
    )
    kept = sample_weighted(w, "w_ppm", "doc_id", salt="cv4")
    return (
        kept.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum("w_ppm").cast("bigint").alias("sum_w_ppm"),
        )
    )


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOK}) AS t FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT t AS item, CAST(COUNT(*) AS BIGINT) AS n
    FROM tok, tot GROUP BY t, tot.n HAVING COUNT(*) * 500 >= tot.n
    """,
    gate=False,
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT φ=1/500 heavy-hitter tokens via the two-pass Misra-Gries
    candidate recipe (``operators.sketch.heavy_hitters``): per-
    partition bounded-counter summaries (one Arrow pass) → bounded
    candidate broadcast → exact recount of candidates only. The
    oracle computes the same answer by brute force (full token
    groupBy + integer threshold) — affordable in DuckDB at gate
    scale, and exactly the vocabulary-sized shuffle the operator
    exists to avoid at 100 TB. The output is provably identical and
    partition-layout-independent (the candidate superset guarantee)."""
    from ..operators.sketch import heavy_hitters
    from ..operators.textstats import tokens as _tokens

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens(F.col("text"))).alias("t"))
    return heavy_hitters(tok, "t", denom=500)


@query(
    "text_heavy_hitters_by_lang",
    oracle=f"""
    WITH tok AS (SELECT lang, unnest({_TOK}) AS t FROM documents),
    tot AS (SELECT lang, COUNT(*) AS n FROM tok GROUP BY 1)
    SELECT tok.lang, t AS item, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(tot.n AS BIGINT) AS n_group
    FROM tok JOIN tot ON tok.lang = tot.lang
    GROUP BY tok.lang, t, tot.n
    HAVING COUNT(*) * 300 >= tot.n
    """,
    gate=False,
)
def text_heavy_hitters_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE exact φ=1/300 heavy-hitter tokens
    (``operators.sketch.heavy_hitters_by`` — Misra-Gries summaries
    keyed by (partition, group), candidates exact-recounted against
    per-group totals): each language's own stopword/boilerplate
    census, the per-slice signal a contamination or template hunt
    needs (a token at 1% of GERMAN tokens is invisible at corpus
    thresholds when German is 5% of the corpus). Two Arrow passes,
    bounded candidate broadcast, no (lang, token)-vocabulary
    shuffle; the oracle recomputes by brute force."""
    from ..operators.sketch import heavy_hitters_by
    from ..operators.textstats import tokens as _tokens

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(_tokens(F.col("text"))).alias("t"))
    return heavy_hitters_by(tok, "lang", "t", denom=300)


@query(
    "token_lang_chi2_topk",
    oracle=f"""
    WITH dt AS (SELECT DISTINCT doc_id, lang, unnest({_TOK}) AS token
                FROM documents WHERE text IS NOT NULL),
    tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM dt),
    nl AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_l
           FROM dt GROUP BY 1),
    ntk AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_t
            FROM dt GROUP BY 1),
    a AS (SELECT lang, token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_a
          FROM dt GROUP BY 1, 2),
    x AS (SELECT a.lang, a.token, a.n_a, ntk.n_t, nl.n_l, tot.n,
                 (a.n_a * (tot.n - ntk.n_t - nl.n_l + a.n_a)
                  - (ntk.n_t - a.n_a) * (nl.n_l - a.n_a)) AS det
          FROM a JOIN ntk USING (token) JOIN nl USING (lang), tot
          WHERE ntk.n_t >= 5 AND ntk.n_t < tot.n AND nl.n_l < tot.n),
    chi AS (SELECT lang, token, n_a, n_t, n_l,
                   CAST(n AS DOUBLE) * CAST(det AS DOUBLE) * CAST(det AS DOUBLE)
                     / CAST(n_t * (n - n_t) AS DOUBLE)
                     / CAST(n_l * (n - n_l) AS DOUBLE) AS chi2
            FROM x),
    r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                       ORDER BY chi2 DESC, token) AS rank
          FROM chi)
    SELECT lang, CAST(rank AS INTEGER) AS rank, token, n_a, n_t, n_l, chi2
    FROM r WHERE rank <= 5
    """,
    gate=False,
)
def token_lang_chi2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² token–language association, top 5 per language — the
    classic feature-selection / distribution-shift statistic over a
    2×2 presence contingency (docs-with-token × docs-in-language).
    All four cell counts are EXACT integers from doc-level distinct
    aggregates; χ² evaluates as one fixed-order scalar expression
    ``n·det²/(n_t(n−n_t))/(n_l(n−n_l))`` on those integers (det =
    ad−bc — identical IEEE ops on identical operands, so the double
    is oracle-hashable; no float SUM over rows anywhere). min-df 5
    prunes the candidate vocabulary before the per-language ranking
    window; at corpus scale the candidate set comes from the
    heavy-hitters pass instead (the window then ranks a bounded
    candidate table — same shape as text_heavy_hitters_by_lang).
    Integer headroom: det² stays in DOUBLE (det can reach n²/4);
    ``n_t·(n−n_t)`` ≤ n²/4 stays BIGINT to n ≈ 3·10⁹ docs."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    dt = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", "lang", F.explode(TS.tokens(F.col("text"))).alias("token"))
        .distinct()
    )
    from ..operators.materialize import materialize

    dt = materialize(dt)
    n = dt.select("doc_id").distinct().count()
    nl = dt.groupBy("lang").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_l")
    )
    ntk = dt.groupBy("token").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_t")
    )
    a = dt.groupBy("lang", "token").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_a")
    )
    x = (
        a.join(ntk, "token")
        .join(F.broadcast(nl), "lang")
        .where((F.col("n_t") >= 5) & (F.col("n_t") < n) & (F.col("n_l") < n))
        .withColumn("n", F.lit(n).cast("bigint"))
        .withColumn(
            "det",
            F.col("n_a") * (F.col("n") - F.col("n_t") - F.col("n_l") + F.col("n_a"))
            - (F.col("n_t") - F.col("n_a")) * (F.col("n_l") - F.col("n_a")),
        )
    )
    chi = x.withColumn(
        "chi2",
        F.col("n").cast("double")
        * F.col("det").cast("double")
        * F.col("det").cast("double")
        / (F.col("n_t") * (F.col("n") - F.col("n_t"))).cast("double")
        / (F.col("n_l") * (F.col("n") - F.col("n_l"))).cast("double"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("chi2"), F.asc("token"))
    return (
        chi.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select("lang", "rank", "token", "n_a", "n_t", "n_l", "chi2")
    )


@query(
    "ttr_length_correlation_by_source",
    oracle=f"""
    WITH d AS (SELECT source, {_TOK} AS t FROM documents
               WHERE text IS NOT NULL),
    xy AS (SELECT source,
                  CAST(len(t) AS BIGINT) AS x,
                  CAST((len(list_distinct(t)) * 1000000) // len(t) AS BIGINT)
                    AS y
           FROM d WHERE len(t) > 0),
    m AS (SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x * x) AS BIGINT) AS sxx,
                 CAST(SUM(y * y) AS BIGINT) AS syy,
                 CAST(SUM(x * y) AS BIGINT) AS sxy
          FROM xy GROUP BY 1)
    SELECT source, n AS n_docs, sx AS sum_tokens,
           (CAST(n * sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS r_ttr_length
    FROM m
    WHERE n * sxx - sx * sx > 0
      AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
    """,
    gate=False,
)
def ttr_length_correlation_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between document length and type-token
    ratio per source — the length-vs-diversity diagnostic (TTR falls
    with length; a source where it does NOT is template/boilerplate
    suspect). Same determinism recipe as ``value_trend_by_type``:
    x = token count, y = fixed-point TTR (``distinct·10⁶ DIV total``
    — integer, no rounding divergence), ONE grouped aggregate of
    exact integer moments (n, Σx, Σy, Σx², Σy², Σxy), and the
    correlation in closed form as fixed-order scalar ops (n·Σy² and
    (Σy)² cross 2⁶³ near 10⁷ docs/source, so the y-side moments go
    through double — exact-int inputs, deterministic scalar
    products; the x-side stays pure BIGINT). Degenerate-variance
    groups are filtered identically on both engines."""
    docs = table(spark, sf_dir, "documents")
    d = docs.where(F.col("text").isNotNull()).select(
        "source", TS.tokens(F.col("text")).alias("t")
    )
    xy = d.where(F.size("t") > 0).select(
        "source",
        F.size("t").cast("bigint").alias("x"),
        F.expr(
            "CAST((size(array_distinct(t)) * 1000000) DIV size(t) AS BIGINT)"
        ).alias("y"),
    )
    m = xy.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n").cast("double") * F.col("syy").cast("double") - F.col(
        "sy"
    ).cast("double") * F.col("sy").cast("double")
    num = (F.col("n") * F.col("sxy")).cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    return (
        m.where((dx > 0) & (dy > F.lit(0.0)))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("sx").alias("sum_tokens"),
            (num / F.sqrt(dx.cast("double")) / F.sqrt(dy)).alias(
                "r_ttr_length"
            ),
        )
    )


@query(
    "mixture_epoch_plan",
    oracle=f"""
    WITH d AS (SELECT source, len({_TOK}) AS n_tokens FROM documents
               WHERE text IS NOT NULL),
    s AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail
          FROM d WHERE n_tokens > 0 GROUP BY 1),
    w AS (SELECT source, avail,
                 CAST(floor(sqrt(CAST(avail AS DOUBLE))) AS BIGINT) AS wq
          FROM s),
    t AS (SELECT CAST(SUM(avail) AS BIGINT) AS budget,
                 CAST(SUM(wq) AS BIGINT) AS wsum
          FROM w)
    SELECT w.source, w.avail AS tokens_available, w.wq AS weight_isqrt,
           CAST((t.budget * w.wq) // t.wsum AS BIGINT) AS target_tokens,
           CAST(((t.budget * w.wq) // t.wsum) * 1000000 // w.avail AS BIGINT)
             AS repeat_micro,
           CAST(((t.budget * w.wq) // t.wsum + w.avail - 1) // w.avail
             AS BIGINT) AS epochs_needed
    FROM w, t
    """,
    gate=False,
)
def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture epoch planner — given per-source token inventories and
    a temperature-smoothed target mixture (α = 0.5), how many tokens
    to DRAW from each source under a one-corpus-size budget, the
    per-source repeat factor that implies, and the epochs of each
    source that requires (the up-sampling schedule a pretraining run
    is configured from; repeat_micro > 10⁶ means that source repeats).
    Determinism: temperature weights are INTEGER isqrt(avail)
    (floor∘sqrt — one correctly-rounded IEEE op each, no float SUM:
    the weight normalizer is an integer Σ), and every derived number
    is integer ``DIV`` arithmetic — fully oracle-hashable. One
    |sources|-row aggregate + a broadcast scalar total; the corpus is
    scanned once."""
    docs = table(spark, sf_dir, "documents")
    d = docs.where(F.col("text").isNotNull()).select(
        "source", TS.token_count("text").alias("n_tokens")
    )
    s = (
        d.where(F.col("n_tokens") > 0)
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("bigint").alias("avail"))
    )
    w = s.withColumn(
        "wq", F.floor(F.sqrt(F.col("avail").cast("double"))).cast("bigint")
    )
    t = w.agg(
        F.sum("avail").cast("bigint").alias("budget"),
        F.sum("wq").cast("bigint").alias("wsum"),
    )
    target = F.expr("(budget * wq) DIV wsum")
    return w.crossJoin(F.broadcast(t)).select(
        "source",
        F.col("avail").alias("tokens_available"),
        F.col("wq").alias("weight_isqrt"),
        target.cast("bigint").alias("target_tokens"),
        F.expr("((budget * wq) DIV wsum) * 1000000 DIV avail")
        .cast("bigint")
        .alias("repeat_micro"),
        F.expr("((budget * wq) DIV wsum + avail - 1) DIV avail")
        .cast("bigint")
        .alias("epochs_needed"),
    )


def _adjacent_word_pairs(
    spark: SparkSession, sf_dir: str, *, min_len: int
) -> DataFrame:
    """(src, dst) for every adjacent token pair with both tokens at
    least ``min_len`` chars — the word-graph edge stream shared by
    TextRank and the community census.  Built map-side via
    ``collocations._pair_stream`` (zip_with the materialized token
    array against its own 1-shifted tail, one explode): adjacency
    within an array needs no exchange, vs the former posexplode +
    self-join-on-(doc_id, pos+1) plan that shuffled the exploded
    token table twice (r12 verdict's weak-mark pattern)."""
    from ..operators.collocations import _pair_stream, _tok_base

    docs = table(spark, sf_dir, "documents", access="scan")
    base = _tok_base(docs.where(F.col("text").isNotNull()), "text", "doc_id")
    return (
        _pair_stream(base, "doc_id")
        .where((F.length("a") >= min_len) & (F.length("b") >= min_len))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )


def _textrank_oracle(iters: int = 8, min_len: int = 4, k: int = 20) -> str:
    from .analytics import pagerank_oracle_levels

    ed = f"""
        SELECT DISTINCT src, dst FROM (
          SELECT a.t AS src, b.t AS dst
          FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          WHERE len(a.t) >= {min_len} AND len(b.t) >= {min_len}
          UNION ALL
          SELECT b.t AS src, a.t AS dst
          FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          WHERE len(a.t) >= {min_len} AND len(b.t) >= {min_len}) x"""
    return (
        f"""
    WITH tk AS MATERIALIZED (
      SELECT doc_id, pos, toks[pos] AS t
      FROM (SELECT doc_id, {_TOK} AS toks
            FROM documents WHERE text IS NOT NULL),
           unnest(range(1, len(toks) + 1)) AS u(pos)),
    """
        + pagerank_oracle_levels(ed, iters)
        + f"""
    SELECT node AS token, CAST(rq AS BIGINT) AS rank_q,
           CAST(rq AS DOUBLE) / {float(1 << 40)} AS rank,
           CAST(ROW_NUMBER() OVER (ORDER BY rq DESC, node) AS INTEGER)
             AS position
    FROM r{iters}
    ORDER BY rq DESC, node LIMIT {k}
    """
    )


@query("text_textrank_keywords", oracle=_textrank_oracle(), gate=False)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK keyword extraction (Mihalcea & Tarau 2004) — corpus
    keywords as the PageRank of the word co-occurrence graph: nodes
    are content tokens (length ≥ 4 — the deterministic stand-in for a
    POS filter), edges join tokens adjacent in the original sequence
    (both directions — the undirected random walk), and importance is
    the stationary mass, which rewards words that co-occur with OTHER
    central words rather than merely frequent ones (the distinction
    from the tf-idf keyword query). Composes the r9 graph family
    directly: ``operators.graph.pagerank`` runs unchanged on the word
    graph, and the oracle reuses the same unrolled-fixpoint generator
    (``pagerank_oracle_levels``) on a different edge CTE — one
    operator, two graphs, bit-exact both times. Top-20 by rank (rank
    desc, token asc)."""
    from pyspark.sql import Window

    from ..operators.graph import pagerank

    adj = _adjacent_word_pairs(spark, sf_dir, min_len=4)
    edges = adj.unionByName(
        adj.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges, iters=8)
    w = Window.orderBy(F.desc("rank_q"), F.asc("node"))
    return (
        ranks.withColumn("position", F.row_number().over(w).cast("int"))
        .where(F.col("position") <= 20)
        .select(
            F.col("node").alias("token"), "rank_q", "rank", "position"
        )
    )


def _word_communities_oracle(iters: int = 4, min_len: int = 4, k: int = 20) -> str:
    parts = [f"""
    WITH tk AS MATERIALIZED (
      SELECT doc_id, pos, toks[pos] AS t
      FROM (SELECT doc_id, {_TOK} AS toks
            FROM documents WHERE text IS NOT NULL),
           unnest(range(1, len(toks) + 1)) AS u(pos)),
    ed AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT a.t AS src, b.t AS dst
        FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE len(a.t) >= {min_len} AND len(b.t) >= {min_len}
        UNION ALL
        SELECT b.t AS src, a.t AS dst
        FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE len(a.t) >= {min_len} AND len(b.t) >= {min_len}) x),
    nodes AS (SELECT DISTINCT node FROM (
        SELECT src AS node FROM ed UNION ALL SELECT dst FROM ed) t),
    l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
    v{i} AS (SELECT e.dst AS node, l.label
             FROM l{i - 1} l JOIN ed e ON e.src = l.node
             UNION ALL SELECT node, label FROM l{i - 1}),
    c{i} AS (SELECT node, label, CAST(COUNT(*) AS BIGINT) AS n
             FROM v{i} GROUP BY 1, 2),
    l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY node
                  ORDER BY n DESC, label) AS rk
        FROM c{i}) t
      WHERE rk = 1)""")
    parts.append(f"""
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_words,
           MIN(node) AS first_word,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, label)
                AS INTEGER) AS position
    FROM l{iters}
    GROUP BY label
    ORDER BY n_words DESC, community
    LIMIT {k}
    """)
    return "".join(parts)


@query("text_word_communities", oracle=_word_communities_oracle(), gate=False)
def text_word_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORD COMMUNITIES — synchronous label propagation
    (``operators.graph.label_propagation``) over the same word
    co-occurrence graph TextRank ranks: after 4 deterministic rounds
    (self-vote damping, smallest-label ties) each word carries its
    community's min-id representative — the topic-cluster census a
    curation pipeline uses to spot vocabulary domains (and the graph
    family's third member next to centrality and keyword ranking).
    Top-20 communities by size. No RNG and no update order anywhere,
    so the DuckDB twin unrolls all 4 vote→count→argmax rounds and
    replays every label bit-for-bit."""
    from pyspark.sql import Window

    from ..operators.graph import label_propagation

    adj = _adjacent_word_pairs(spark, sf_dir, min_len=4)
    edges = adj.unionByName(
        adj.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = label_propagation(edges, iters=4)
    w = Window.orderBy(F.desc("n_words"), F.asc("community"))
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.min("node").alias("first_word"),
        )
        .withColumn("position", F.row_number().over(w).cast("int"))
        .where(F.col("position") <= 20)
        .select("community", "n_words", "first_word", "position")
    )


def _curation_v5_oracle() -> str:
    quality = (
        "(CASE WHEN length(regexp_replace(text, '\\s+', '', 'g'))"
        f" / len({_TOK}) >= 3.0"
        " AND length(regexp_replace(text, '\\s+', '', 'g'))"
        f" / len({_TOK}) <= 8.0 THEN 1.0 ELSE 0.0 END"
        f" + least(len(list_filter({_TOK},"
        f" x -> list_contains({_EN}, lower(x))))"
        f" / CAST(len({_TOK}) AS DOUBLE) * 4.0, 1.0)"
        " + 1.0 - least(len(regexp_extract_all(text, '[^\\w\\s]'))"
        " / CAST(length(text) AS DOUBLE) * 5.0, 1.0)) / 3.0"
    )
    toks_g = "list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')"
    return f"""
    WITH gated AS MATERIALIZED (
      SELECT doc_id, source, n_chars, text
      FROM documents
      WHERE text IS NOT NULL AND {quality} >= 0.4),
    tok AS (SELECT doc_id, unnest({toks_g}) AS t FROM gated),
    tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    dfq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    w AS (SELECT tf.doc_id, tf.t, dfq.df,
                 tf.tf * (1024 // dfq.df) AS w
          FROM tf JOIN dfq USING (t)),
    norms AS (SELECT doc_id,
                     CAST(SUM(CAST(w AS HUGEINT) * w) AS HUGEINT) AS n2
              FROM w GROUP BY 1),
    rare AS (SELECT doc_id, t FROM w WHERE df BETWEEN 2 AND 32),
    cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
             FROM rare a JOIN rare b
               ON a.t = b.t AND a.doc_id < b.doc_id),
    dots AS (SELECT c.da, c.db,
                    CAST(SUM(CAST(wa.w AS HUGEINT) * wb.w) AS HUGEINT) AS dot
             FROM cand c
             JOIN w wa ON wa.doc_id = c.da
             JOIN w wb ON wb.doc_id = c.db AND wb.t = wa.t
             GROUP BY 1, 2),
    dup AS (SELECT DISTINCT d.db AS doc_id
            FROM dots d
            JOIN norms na ON na.doc_id = d.da
            JOIN norms nb ON nb.doc_id = d.db
            WHERE d.dot > 0 AND 25 * d.dot * d.dot >= 9 * na.n2 * nb.n2),
    surv AS MATERIALIZED (
      SELECT g.doc_id, g.source, g.n_chars FROM gated g
      WHERE g.doc_id NOT IN (SELECT doc_id FROM dup)),
    m AS (SELECT max(doc_id) + 1 AS mult,
                 CAST(count(*) AS BIGINT) AS n FROM surv),
    k2 AS (SELECT doc_id, source, n_chars,
                  n_chars * mult + doc_id AS ck FROM surv, m),
    r AS (SELECT *, row_number() OVER (ORDER BY ck) AS rn FROM k2),
    dec AS (SELECT doc_id, source, n_chars,
                   CAST(((rn - 1) * 10) // (SELECT n FROM m) AS INTEGER)
                     AS decile
            FROM r),
    h AS (SELECT *,
                 CAST('0x'||substr(md5('curr:'||CAST(doc_id AS VARCHAR)),
                                   1, 8) AS BIGINT) AS hv
          FROM dec),
    p AS (SELECT *, hv % 16 AS shard,
                 row_number() OVER (PARTITION BY decile, hv % 16
                                    ORDER BY hv, doc_id) AS sp
          FROM h)
    SELECT source, decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN((sp - 1) * 16 + shard + 1) AS BIGINT) AS min_pos
    FROM p GROUP BY 1, 2
    """


@query("corpus_curation_v5", oracle=_curation_v5_oracle(), gate=False)
def corpus_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 capstone curation pipeline, ONE composition with a
    full end-to-end oracle — the r9 families chained: (1) the
    composite quality gate (≥ 0.4), (2) IDF-COSINE near-dup removal
    (``tfidf_cosine_pairs`` at 0.6 — for every near-dup pair the
    higher doc_id is dropped, keep-first greedy), (3) CURRICULUM
    staging of the survivors (``curriculum_order`` — easy→hard
    n_chars deciles, hash-interleaved within deciles), reported per
    (source, decile) with the interleave's first position. Every
    stage is a previously-oracle-verified operator; scale shapes
    inherit from each (map-side gate, rare-term-blocked pair join,
    descent thresholds + bounded shard windows — no global sort
    anywhere)."""
    from ..operators import textstats as TS
    from ..operators.dedup import tfidf_cosine_pairs
    from ..operators.materialize import materialize
    from ..operators.sampling import curriculum_order

    docs = table(spark, sf_dir, "documents", access="scan")
    gated = materialize(
        docs.where(
            F.col("text").isNotNull()
            & (TS.quality_score("text") >= 0.4)
        ).select("doc_id", "source", "n_chars", "text")
    )
    pairs = tfidf_cosine_pairs(
        gated, "doc_id", "text", threshold=(3, 5), max_df=32
    )
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    surv = materialize(
        gated.join(drop, "doc_id", "left_anti").select(
            "doc_id", "source", "n_chars"
        )
    )
    cur = curriculum_order(surv, "doc_id", "n_chars", n_shards=16, salt="curr")
    return (
        cur.join(surv, "doc_id")
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("pos").cast("bigint").alias("min_pos"),
        )
    )


_TK_CTE = f"""tk AS MATERIALIZED (
      SELECT doc_id, pos, toks[pos] AS t
      FROM (SELECT doc_id, {_TOK} AS toks
            FROM documents WHERE text IS NOT NULL),
           unnest(range(1, len(toks) + 1)) AS u(pos))"""

#: Kneser-Ney interpolated bigram probability with discount d = 3/4,
#: over exact integer count columns (c12, c1, n1p, ncont, nt) —
#: IDENTICAL SQL text on both engines: integer arithmetic + three
#: correctly-rounded double divisions + one addition, so the double
#: is deterministic; the subsequent ln runs in Q40 fixed point.
_KN_P_EXPR = (
    "(CAST(GREATEST(4 * c12 - 3, 0) AS DOUBLE) / CAST(4 * c1 AS DOUBLE)"
    " + CAST(3 * n1p * ncont AS DOUBLE) / CAST(4 * c1 AS DOUBLE)"
    " / CAST(nt AS DOUBLE))"
)
_KN_Q30 = float(1 << 30)


def _kn_docscore_parts() -> str:
    """Shared DuckDB WITH-parts for per-document KN scoring, ending
    at ``docscore(doc_id, n_bigrams, lq_sum)`` — the oracle twin of
    :func:`_kn_doc_scores`, consumed by both the typicality report
    and the CCNet perplexity bucketer."""
    from ..operators.fixtrig import StepBuilder, dlit

    sb = StepBuilder("duckdb")
    lncol = sb.ln(_KN_P_EXPR, lo_exp=-60, hi_exp=2)
    parts = [f"""{_TK_CTE},
    bg AS MATERIALIZED (
      SELECT a.doc_id, a.t AS w1, b.t AS w2
      FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    c12 AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                  CAST(COUNT(*) AS BIGINT) AS n1p
           FROM c12 GROUP BY 1),
    nc AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont FROM c12 GROUP BY 1),
    ntt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM c12),
    p0 AS MATERIALIZED (
      SELECT c12.w1, c12.w2, c12.c12, c1.c1, c1.n1p, nc.ncont,
             (SELECT nt FROM ntt) AS nt
      FROM c12 JOIN c1 USING (w1) JOIN nc USING (w2))"""]
    prev = "p0"
    for i, (name, expr) in enumerate(sb.steps):
        parts.append(f", k{i} AS (SELECT *, ({expr}) AS {name} FROM {prev})")
        prev = f"k{i}"
    parts.append(f""",
    probs AS MATERIALIZED (
      SELECT w1, w2,
             CAST(FLOOR(({lncol}) * {dlit(_KN_Q30)}) AS BIGINT) AS lq
      FROM {prev}),
    docscore AS MATERIALIZED (
      SELECT bg.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(p.lq) AS BIGINT) AS lq_sum
      FROM bg JOIN probs p ON bg.w1 = p.w1 AND bg.w2 = p.w2
      GROUP BY 1)""")
    return "".join(parts)


def _kneser_ney_oracle() -> str:
    from ..operators.fixtrig import dlit

    return (
        "WITH "
        + _kn_docscore_parts()
        + f"""
    SELECT doc_id, n_bigrams,
           CAST(lq_sum AS DOUBLE) / {dlit(_KN_Q30)} AS logprob,
           CAST(lq_sum AS DOUBLE) / {dlit(_KN_Q30)} / n_bigrams
             AS avg_logprob
    FROM docscore
    """
    )


def _kn_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-document Kneser-Ney bigram scoring pipeline over
    the sf-dir documents table — see :func:`_kn_doc_scores_df`."""
    return _kn_doc_scores_df(table(spark, sf_dir, "documents", access="scan"))


def _kn_doc_scores_df(docs: DataFrame) -> DataFrame:
    """Shared per-document Kneser-Ney bigram scoring pipeline:
    returns ``(doc_id, n_bigrams, lq_sum)`` where ``lq_sum`` is the
    exact BIGINT sum of q30-quantized per-bigram log-probabilities
    (see ``text_kneser_ney_bigram`` for the model; magnitude is
    bounded by n_bigrams · 60·ln2·2^30 ≈ 2^45 for the q40 ladder's
    p ≥ 2^-60 domain, far inside int64). Consumed by the per-doc
    typicality report, the CCNet-style perplexity bucketer, and the
    curation funnel's finalize job (which scores a corpus at rest in
    a TableStore, hence the frame-parameterized form).

    Scale note (r14 `--step2` adjudication, SCALE.md): the ``bg``
    materialize below storage-checkpoints the corpus-sized bigram
    stream. Measured crossover: at ≤ sf~1 it WINS (4.3 s vs 6.8 s —
    the interpreted-HOF token zip is expensive to recompute), at
    sf~3 in one 48 g JVM the checkpointed stream exceeds the storage
    budget and thrashes. On a cluster keep the materialize (executor
    storage scales with data); in a memory-bounded single process
    wrap the call in ``materialize.strategy("none")`` to trade one
    extra map recompute for zero storage pressure — both paths are
    linear; the difference is constant-factor configuration."""
    from ..operators.collocations import _pair_stream, _tok_base
    from ..operators.fixtrig import StepBuilder, apply_steps_spark, dlit
    from ..operators.materialize import materialize
    # Bigram construction is adjacency WITHIN a token array, so it is
    # pure map work: zip the materialized array with its own 1-shifted
    # tail and explode once (``collocations._pair_stream``, which also
    # carries the interpreted-HOF materialize discipline).  The former
    # plan (posexplode to (doc_id, pos, t) then a self-join on
    # (doc_id, pos+1 = pos)) shuffled the exploded token table twice
    # and joined it against itself — the corpus's largest intermediate
    # — for something that never needed an exchange at all (r12
    # verdict's one weak mark).
    base = _tok_base(docs.where(F.col("text").isNotNull()), "text", "doc_id")
    bg = _pair_stream(base, "doc_id").select(
        "doc_id", F.col("a").alias("w1"), F.col("b").alias("w2")
    )
    bg = materialize(bg)
    c12 = materialize(
        bg.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("bigint").alias("c12")
        )
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p"),
    )
    nc = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("ncont")
    )
    ntt = c12.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    p0 = c12.join(c1, "w1").join(nc, "w2").crossJoin(F.broadcast(ntt))
    sb = StepBuilder("spark")
    lncol = sb.ln(_KN_P_EXPR, lo_exp=-60, hi_exp=2)
    scored = apply_steps_spark(p0, sb)
    # The model table (one row per DISTINCT bigram — vocabulary-type
    # bounded, tiny next to the corpus) carries the whole Q40 ln
    # ladder in its projection; materializing it keeps the giant
    # fixed-point expression tree out of the doc-scoring join's plan
    # (measured 5.6 s → 2.0 s at sf0.1: the inline tree triples
    # optimizer + codegen time on every run).
    probs = materialize(
        scored.selectExpr(
            "w1",
            "w2",
            f"CAST(FLOOR(({lncol}) * {dlit(_KN_Q30)}) AS BIGINT) AS lq",
        )
    )
    return (
        bg.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.col("lq").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("lq_sum"),
        )
    )


@query("text_kneser_ney_bigram", oracle=_kneser_ney_oracle(), gate=False)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNESER-NEY BIGRAM LANGUAGE-MODEL SCORING — the quality signal a
    curation pipeline wants beyond the add-one bigram LM
    (``collocations.py``): interpolated KN with absolute discount
    d = 3/4, where the backoff weight is the CONTINUATION probability
    (how many distinct contexts a word follows) rather than raw
    frequency — the smoothing that made n-gram LMs competitive, as
    four exact count aggregates + rational arithmetic. Per-bigram
    probabilities are deterministic doubles (exact integer counts,
    correctly-rounded divisions), their logs run in Q40 fixed point
    (``fixtrig.ln`` with the wide ladder, p ≥ 2^-60), and per-doc
    log-probabilities sum the q30-quantized logs in DECIMAL(38,0) —
    order-independent, hash-exact cross-engine. Scoring the training
    corpus against itself ranks documents by typicality (low
    avg-logprob = off-distribution → review queue). One token pass,
    three count aggregates, one model join — no Python, no driver
    state beyond nothing: even the bigram-type count stays in-plan as
    a 1-row broadcast scalar."""
    sc = _kn_doc_scores(spark, sf_dir)
    logprob = F.col("lq_sum").cast("double") / F.lit(_KN_Q30)
    return sc.select(
        "doc_id",
        "n_bigrams",
        logprob.alias("logprob"),
        (logprob / F.col("n_bigrams")).alias("avg_logprob"),
    )


def _ccnet_oracle() -> str:
    return (
        "WITH "
        + _kn_docscore_parts()
        + """,
    d AS MATERIALIZED (
      SELECT doc.lang, doc.doc_id, doc.n_chars,
             CAST(CAST(-s.lq_sum AS HUGEINT) * 1048576 // s.n_bigrams
                  AS BIGINT) AS pq
      FROM docscore s JOIN documents doc USING (doc_id)),
    c AS (SELECT lang, COUNT(*) AS n FROM d GROUP BY 1),
    o AS (SELECT lang, pq,
                 row_number() OVER (PARTITION BY lang ORDER BY pq) AS rn
          FROM d),
    b AS (SELECT o.lang, o.pq AS bval
          FROM o JOIN c ON o.lang = c.lang,
               (SELECT unnest(range(1, 3)) AS i)
          WHERE o.rn = greatest((c.n * i) // 3, 1)),
    bins AS (SELECT d.lang, d.doc_id, d.n_chars, d.pq,
                    1 + SUM(CASE WHEN d.pq > b.bval THEN 1 ELSE 0 END)
                      AS bucket
             FROM d JOIN b ON d.lang = b.lang GROUP BY 1, 2, 3, 4)
    SELECT lang,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(pq) AS BIGINT) AS max_pq
    FROM bins GROUP BY 1, 2
    """
    )


@query(
    "text_ccnet_perplexity_buckets", oracle=_ccnet_oracle(), gate=False
)
def text_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNET-STYLE PERPLEXITY BUCKETING — the selection step of the
    CCNet pipeline (Wenzek et al. 2020) that LLaMA/RedPajama copied:
    score every document with a language model, then split EACH
    LANGUAGE into head/middle/tail perplexity terciles so downstream
    sampling can favor the head without comparing scores across
    languages. The LM is the oracle-replayable Kneser-Ney bigram
    model (``_kn_doc_scores``); per-doc perplexity is quantized to an
    integer ``pq = (-lq_sum)·2^20 // n_bigrams`` (non-negative, so
    trunc == floor on both engines); tercile boundaries are EXACT
    per-language order statistics from the grouped bucketed-selection
    descent (no per-language sort — the ``length_deciles_by_source``
    discipline), broadcast back for a map-side value-threshold bucket
    assignment that puts ties in one bucket deterministically. At
    100 TB: the LM join is vocabulary-sized, boundaries are one
    grouped descent over integer scores, and the bucket gate never
    shuffles the corpus."""
    from ..operators.materialize import materialize
    from ..operators.orderstats import equi_depth_boundaries_by

    docs = table(spark, sf_dir, "documents", access="scan")
    sc = _kn_doc_scores(spark, sf_dir)
    d = materialize(
        sc.join(docs.select("doc_id", "lang", "n_chars"), "doc_id")
        .selectExpr(
            "lang",
            "doc_id",
            "n_chars",
            "CAST(CAST(-lq_sum AS DECIMAL(38,0)) * 1048576"
            " DIV n_bigrams AS BIGINT) AS pq",
        )
    )
    bnds = equi_depth_boundaries_by(d, "lang", "pq", 3)
    bounds = route.driver_frame(
        spark,
        [(g[0], [int(x) for x in bs]) for g, bs in bnds.items()],
        "lang string, _b array<bigint>",
    )

    def _above(acc, x):
        return acc + F.when(F.col("pq") > x, 1).otherwise(0)

    bucket_i = F.lit(1) + F.aggregate(F.col("_b"), F.lit(0), _above)
    bucket = (
        F.when(bucket_i == 1, "head")
        .when(bucket_i == 2, "middle")
        .otherwise("tail")
    )
    return (
        d.join(F.broadcast(bounds), "lang")
        .select("lang", bucket.alias("bucket"), "n_chars", "pq")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.max("pq").cast("bigint").alias("max_pq"),
        )
    )


def _weighted_reservoir_oracle(k: int = 50) -> str:
    from ..operators.fixtrig import StepBuilder, dlit

    sb = StepBuilder("duckdb", prefix="_wrs_fx")
    lnu = sb.ln(
        f"(CAST(_wrs_h + 1 AS DOUBLE) / {dlit(float(1 << 32))})",
        lo_exp=-33,
        hi_exp=1,
    )
    parts = ["""
    WITH d0 AS (
      SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST('0x' || substr(
               md5('wrs:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               AS _wrs_h
      FROM documents
      WHERE text IS NOT NULL AND LENGTH(text) > 0)"""]
    prev = "d0"
    for i, (name, expr) in enumerate(sb.steps):
        parts.append(f", w{i} AS (SELECT *, ({expr}) AS {name} FROM {prev})")
        prev = f"w{i}"
    parts.append(f"""
    SELECT doc_id, n_chars,
           ({lnu}) / CAST(n_chars AS DOUBLE) AS wrs_key,
           CAST(ROW_NUMBER() OVER (
             ORDER BY ({lnu}) / CAST(n_chars AS DOUBLE) DESC, doc_id)
             AS INTEGER) AS position
    FROM {prev}
    ORDER BY wrs_key DESC, doc_id
    LIMIT {k}
    """)
    return "".join(parts)


@query(
    "sample_weighted_reservoir",
    oracle=_weighted_reservoir_oracle(),
    gate=False,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED SAMPLING WITHOUT REPLACEMENT
    (``sampling.weighted_sample_topk`` — Efraimidis–Spirakis A-ES):
    50 documents drawn ∝ length, deterministically — each row
    competes with key = ln(u)/w where u comes from its content hash,
    so the sample is reproducible across engines, cluster layouts,
    retries, and appends (a row's key never changes when other rows
    arrive) — the importance-weighted subsample step of a curation
    pipeline (keep N docs ∝ quality) without RNG state anywhere.
    The exponential keys replay exactly: u is an exact power-of-two
    quotient of the md5 head, ln runs in Q40 fixed point
    (``fixtrig.ln``, ladder to 2^-33), and the weight division is one
    correctly-rounded op. Top-k compiles to TakeOrderedAndProject."""
    from ..operators.sampling import weighted_sample_topk

    docs = table(spark, sf_dir, "documents", access="scan")
    d0 = docs.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).selectExpr("doc_id", "CAST(LENGTH(text) AS BIGINT) AS n_chars")
    out = weighted_sample_topk(d0, "doc_id", "n_chars", k=50)
    return out.select(
        "doc_id", "n_chars", F.col("_wrs_key").alias("wrs_key"), "position"
    )


def _temp_alpha_oracle(alpha: float = 0.3) -> str:
    from ..operators.fixtrig import StepBuilder, dlit

    sb = StepBuilder("duckdb", prefix="_ta")
    lnr = sb.ln(
        "(CAST(n_docs AS DOUBLE) / CAST(n_max AS DOUBLE))",
        lo_exp=-40, hi_exp=1,
    )
    wcol = sb.exp_wide(f"(({lnr}) * {dlit(alpha)})")
    parts = ["""
    WITH c AS MATERIALIZED (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1),
    s AS (SELECT CAST(MAX(n_docs) AS BIGINT) AS n_max,
                 CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
    c0 AS (SELECT c.*, s.n_max, s.total FROM c, s)"""]
    prev = "c0"
    for i, (name, expr) in enumerate(sb.steps):
        parts.append(f", t{i} AS (SELECT *, ({expr}) AS {name} FROM {prev})")
        prev = f"t{i}"
    parts.append(f""",
    q AS MATERIALIZED (
      SELECT lang, n_docs, total, ({wcol}) AS weight,
             CAST(FLOOR(({wcol}) * {dlit(float(1 << 40))}) AS BIGINT) AS wq
      FROM {prev}),
    sw AS (SELECT CAST(SUM(wq) AS HUGEINT) AS swq FROM q)
    SELECT lang, n_docs, weight,
           CAST(CAST(total AS HUGEINT) * wq // (SELECT swq FROM sw)
                AS BIGINT) AS planned_rows
    FROM q
    """)
    return "".join(parts)


@query(
    "mixture_temperature_alpha", oracle=_temp_alpha_oracle(), gate=False
)
def mixture_temperature_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY-α TEMPERATURE MIXTURE PLAN — dissolving
    ``temperature_weights``' documented limitation ("other α values
    use pow, whose last ulp is libm-specific — avoided by the
    cross-engine-hashed gate query"): with fixtrig, n^α = exp(α·ln n)
    replays exactly at ANY α, so the α = 0.3 plan is fully
    oracle-backed. Weights are computed scale-invariantly as
    exp(α·(ln n − ln n_max)) ≤ 1 (bounded exp carriers), quantized to
    q40, and the per-language row budget is the integer split
    total·wq // Σwq — every number deterministic end to end. One
    groupBy over the corpus; everything downstream runs on the
    |languages|-row table with the totals riding as 1-row broadcast
    scalars."""
    from ..operators.fixtrig import StepBuilder, apply_steps_spark, dlit

    alpha = 0.3
    docs = table(spark, sf_dir, "documents", access="scan")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    stats = counts.agg(
        F.max("n_docs").cast("bigint").alias("n_max"),
        F.sum("n_docs").cast("bigint").alias("total"),
    )
    c0 = counts.crossJoin(F.broadcast(stats))
    sb = StepBuilder("spark", prefix="_ta")
    lnr = sb.ln(
        "(CAST(n_docs AS DOUBLE) / CAST(n_max AS DOUBLE))",
        lo_exp=-40, hi_exp=1,
    )
    wcol = sb.exp_wide(f"(({lnr}) * {dlit(alpha)})")
    scored = apply_steps_spark(c0, sb)
    q = scored.selectExpr(
        "lang",
        "n_docs",
        "total",
        f"({wcol}) AS weight",
        f"CAST(FLOOR(({wcol}) * {dlit(float(1 << 40))}) AS BIGINT) AS wq",
    )
    sw = q.agg(F.sum(F.col("wq").cast("decimal(38,0)")).alias("swq"))
    return q.crossJoin(F.broadcast(sw)).selectExpr(
        "lang",
        "n_docs",
        "weight",
        "CAST(CAST(total AS DECIMAL(38,0)) * wq DIV swq AS BIGINT)"
        " AS planned_rows",
    )


_ZIPF_TOPK = 64
_ZIPF_Q20 = 1 << 20


def _zipf_oracle() -> str:
    from ..operators.fixtrig import StepBuilder

    sb = StepBuilder("duckdb")
    lnc = sb.ln("CAST(cnt AS DOUBLE)", lo_exp=0, hi_exp=63)
    lnr = sb.ln("CAST(rk AS DOUBLE)", lo_exp=0, hi_exp=7)
    parts = [f"""
    WITH tok AS MATERIALIZED (
      SELECT source, unnest({_TOK}) AS t
      FROM documents WHERE text IS NOT NULL),
    cnt AS MATERIALIZED (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2),
    topk AS MATERIALIZED (
      SELECT source, cnt, rk FROM (
        SELECT source, cnt,
               row_number() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, t) AS rk
        FROM cnt) WHERE rk <= {_ZIPF_TOPK})"""]
    prev = "topk"
    for i, (name, expr) in enumerate(sb.steps):
        parts.append(f", z{i} AS (SELECT *, ({expr}) AS {name} FROM {prev})")
        prev = f"z{i}"
    parts.append(f""",
    pts AS MATERIALIZED (
      SELECT source, rk,
             CAST(FLOOR(({lnc}) * {float(1 << 30)}) AS BIGINT) AS lc,
             CAST(FLOOR(({lnr}) * {float(1 << 30)}) AS BIGINT) AS lr
      FROM {prev}),
    p AS (SELECT a.source,
                 ((a.lc - b.lc) * {_ZIPF_Q20}) // (b.lr - a.lr) AS aq
          FROM pts a JOIN pts b
            ON a.source = b.source AND b.rk > a.rk),
    c AS (SELECT source, COUNT(*) AS n FROM p GROUP BY 1),
    o AS (SELECT source, aq,
                 row_number() OVER (PARTITION BY source ORDER BY aq) AS rn
          FROM p)
    SELECT o.source, CAST(c.n AS BIGINT) AS n_pairs,
           AVG(CAST(o.aq AS DOUBLE)) / {float(_ZIPF_Q20)} AS zipf_alpha
    FROM o JOIN c ON o.source = c.source
    WHERE o.rn = (c.n + 1) // 2 OR o.rn = c.n // 2 + 1
    GROUP BY 1, 2
    """)
    return "".join(parts)


@query("source_zipf_alpha", oracle=_zipf_oracle(), gate=False)
def source_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF EXPONENT PER SOURCE — fit ln(freq) = −α·ln(rank) + c over
    each source's top-64 token frequencies and report α, the
    vocabulary-concentration diagnostic of corpus profiling (natural
    text sits near α ≈ 1; boilerplate-heavy or templated sources
    skew away — a drift alarm for an ingest segment). Robust fit via
    THEIL-SEN (median of all pairwise slopes, C(64,2) = 2016 bounded
    pairs per source — one anomalous head token can't move it, where
    it would drag least squares). Exact replay end to end: both lns
    run the fixtrig Q40 ladder and quantize to q30 ints, each
    pairwise slope is one integer `DIV` (non-negative: counts are
    rank-sorted), and the median is the theil_sen_daily_trend
    selection. Scale shape: the pair expansion runs over the BOUNDED
    64-row-per-source rank table, never the vocabulary — upstream is
    one (source, token) count aggregate + a per-source top-k rank
    filter window."""
    from pyspark.sql import Window

    from ..operators.fixtrig import StepBuilder, apply_steps_spark
    from ..operators.materialize import materialize
    from ..operators.textstats import tokens

    docs = table(spark, sf_dir, "documents", access="scan")
    tok = docs.where(F.col("text").isNotNull()).select(
        "source", F.explode(tokens(F.col("text"))).alias("t")
    )
    cnt = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("t"))
    topk = materialize(
        cnt.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _ZIPF_TOPK)
        .select("source", "cnt", "rk")
    )
    sb = StepBuilder("spark")
    lnc = sb.ln("CAST(cnt AS DOUBLE)", lo_exp=0, hi_exp=63)
    lnr = sb.ln("CAST(rk AS DOUBLE)", lo_exp=0, hi_exp=7)
    pts = apply_steps_spark(topk, sb).selectExpr(
        "source",
        "rk",
        f"CAST(FLOOR(({lnc}) * {float(1 << 30)}) AS BIGINT) AS lc",
        f"CAST(FLOOR(({lnr}) * {float(1 << 30)}) AS BIGINT) AS lr",
    )
    a, b = pts.alias("a"), pts.alias("b")
    p = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("b.rk") > F.col("a.rk")),
    ).select(
        F.col("a.source").alias("source"),
        F.expr(f"((a.lc - b.lc) * {_ZIPF_Q20}) DIV (b.lr - a.lr)").alias(
            "aq"
        ),
    )
    wo = Window.partitionBy("source").orderBy("aq")
    wc = Window.partitionBy("source")
    o = p.select(
        "source",
        "aq",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    mid = o.where(
        (F.col("rn") == F.expr("(n + 1) DIV 2"))
        | (F.col("rn") == F.expr("n DIV 2 + 1"))
    )
    return mid.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        (F.avg(F.col("aq").cast("double")) / F.lit(float(_ZIPF_Q20))).alias(
            "zipf_alpha"
        ),
    )


def _entropy_oracle() -> str:
    from ..operators.fixtrig import StepBuilder

    sb1 = StepBuilder("duckdb")
    lnc = sb1.ln("CAST(cnt AS DOUBLE)", lo_exp=0, hi_exp=63)
    sb2 = StepBuilder("duckdb")
    lnn = sb2.ln("CAST(n_tokens AS DOUBLE)", lo_exp=0, hi_exp=63)
    parts = [f"""
    WITH tok AS MATERIALIZED (
      SELECT source, unnest({_TOK}) AS t
      FROM documents WHERE text IS NOT NULL),
    cnt AS MATERIALIZED (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2)"""]
    prev = "cnt"
    for i, (name, expr) in enumerate(sb1.steps):
        parts.append(f", h{i} AS (SELECT *, ({expr}) AS {name} FROM {prev})")
        prev = f"h{i}"
    parts.append(f""",
    agg AS MATERIALIZED (
      SELECT source,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab_size,
             SUM(CAST(cnt AS HUGEINT)
                 * CAST(FLOOR(({lnc}) * {float(1 << 30)}) AS BIGINT)) AS clc
      FROM {prev} GROUP BY 1)""")
    prev = "agg"
    for i, (name, expr) in enumerate(sb2.steps):
        parts.append(f", g{i} AS (SELECT *, ({expr}) AS {name} FROM {prev})")
        prev = f"g{i}"
    parts.append(f"""
    SELECT source, n_tokens, vocab_size,
           CAST(CAST(FLOOR(({lnn}) * {float(1 << 30)}) AS BIGINT)
                - clc // n_tokens AS BIGINT) AS entropy_q,
           CAST(CAST(FLOOR(({lnn}) * {float(1 << 30)}) AS BIGINT)
                - clc // n_tokens AS DOUBLE) / {float(1 << 30)} AS entropy
    FROM {prev}
    """)
    return "".join(parts)


@query("source_token_entropy", oracle=_entropy_oracle(), gate=False)
def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHANNON VOCABULARY ENTROPY PER SOURCE — H = ln n − (Σ c·ln c)/n
    over each source's full token distribution, the
    information-theoretic diversity signal of corpus profiling
    (templated/boilerplate sources concentrate mass on few types →
    low H; organic text sits near its Zipf-implied entropy — read
    next to ``source_zipf_alpha``). Exact replay: both lns run the
    fixtrig Q40 ladder (the per-type ladder BEFORE aggregation, the
    per-source ladder after), Σ c·ln_q(c) accumulates in
    DECIMAL(38,0)/HUGEINT (order-independent), and the final
    ``entropy_q = ln_q(n) − Σc·ln_q(c) // n`` is one non-negative
    trunc division. Scale shape: one (source, token) count aggregate
    + one per-source aggregate — bounded state, no windows, no
    per-source sort anywhere."""
    from ..operators.fixtrig import StepBuilder, apply_steps_spark
    from ..operators.textstats import tokens

    docs = table(spark, sf_dir, "documents", access="scan")
    tok = docs.where(F.col("text").isNotNull()).select(
        "source", F.explode(tokens(F.col("text"))).alias("t")
    )
    cnt = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    sb1 = StepBuilder("spark")
    lnc = sb1.ln("CAST(cnt AS DOUBLE)", lo_exp=0, hi_exp=63)
    scored = apply_steps_spark(cnt, sb1)
    agg = scored.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(
            F.expr(
                f"CAST(cnt AS DECIMAL(38,0))"
                f" * CAST(FLOOR(({lnc}) * {float(1 << 30)}) AS BIGINT)"
            )
        ).alias("clc"),
    )
    sb2 = StepBuilder("spark")
    lnn = sb2.ln("CAST(n_tokens AS DOUBLE)", lo_exp=0, hi_exp=63)
    out = apply_steps_spark(agg, sb2)
    hq = (
        f"CAST(CAST(FLOOR(({lnn}) * {float(1 << 30)}) AS BIGINT)"
        f" - clc DIV n_tokens AS BIGINT)"
    )
    return out.selectExpr(
        "source",
        "n_tokens",
        "vocab_size",
        f"{hq} AS entropy_q",
        f"CAST({hq} AS DOUBLE) / {float(1 << 30)} AS entropy",
    )


def waterfall_levels(
    wts: str, caps: str, bdg: str, rounds: int = 8, pfx: str = "w"
) -> str:
    """Reusable DuckDB replay of ``sampling.capped_weighted_quotas``
    — the fixed-round capacity waterfall unrolled. The caller
    supplies CTE NAMES: ``wts(source, w)``, ``caps(source, cap)``
    and ``bdg(b)``; this emits the ``,``-prefixed level CTEs and
    leaves the final allocation in ``{pfx}a{rounds}(source, alloc)``.
    Each level recomputes the active set, re-apportions the
    remaining budget by largest remainder over the active weights
    (ties ``rem DESC, source``), caps each take by remaining
    availability, and folds into the allocation state. Converged
    levels allocate zero identically on both engines."""
    parts = [f""",
    {pfx}a0 AS MATERIALIZED (
      SELECT source, CAST(0 AS HUGEINT) AS alloc FROM {wts})"""]
    for k in range(rounds):
        parts.append(f""",
    {pfx}rem{k} AS (SELECT (SELECT b FROM {bdg})
                       - (SELECT COALESCE(SUM(alloc), 0)
                          FROM {pfx}a{k}) AS r),
    {pfx}ac{k} AS (
      SELECT w.source, w.w FROM {wts} w
      JOIN {pfx}a{k} a USING (source) JOIN {caps} c USING (source)
      WHERE w.w > 0 AND a.alloc < c.cap),
    {pfx}wt{k} AS (SELECT COALESCE(SUM(w), 0) AS wt FROM {pfx}ac{k}),
    {pfx}qb{k} AS (
      SELECT source,
             CASE WHEN (SELECT wt FROM {pfx}wt{k}) = 0 THEN 0
                  ELSE (w * (SELECT r FROM {pfx}rem{k}))
                       // (SELECT wt FROM {pfx}wt{k}) END AS base,
             CASE WHEN (SELECT wt FROM {pfx}wt{k}) = 0 THEN 0
                  ELSE (w * (SELECT r FROM {pfx}rem{k}))
                       % (SELECT wt FROM {pfx}wt{k}) END AS rm
      FROM {pfx}ac{k}),
    {pfx}ex{k} AS (SELECT CASE WHEN (SELECT wt FROM {pfx}wt{k}) = 0
                                    THEN 0
                               ELSE (SELECT r FROM {pfx}rem{k})
                                    - SUM(base) END AS e
                   FROM {pfx}qb{k}),
    {pfx}qa{k} AS (
      SELECT source,
             base + CASE WHEN (SELECT wt FROM {pfx}wt{k}) > 0
                              AND row_number() OVER (ORDER BY rm DESC,
                                                     source)
                                  <= (SELECT e FROM {pfx}ex{k})
                         THEN 1 ELSE 0 END AS q
      FROM {pfx}qb{k}),
    {pfx}a{k + 1} AS MATERIALIZED (
      SELECT a.source,
             a.alloc + CASE WHEN q.q IS NULL THEN 0
                            ELSE LEAST(q.q, c.cap - a.alloc) END AS alloc
      FROM {pfx}a{k} a
      JOIN {caps} c USING (source)
      LEFT JOIN {pfx}qa{k} q USING (source))""")
    return "".join(parts)


def _waterfall_oracle(rounds: int = 8) -> str:
    """Twin of ``quota_waterfall_sources``: token-mass weights,
    long-doc caps, half-supply budget, the shared unrolled levels."""
    head = f"""
    WITH wtk AS (SELECT source, len({_TOK}) AS n FROM documents),
    wts AS MATERIALIZED (
      SELECT source, CAST(SUM(n) AS HUGEINT) AS w FROM wtk GROUP BY 1),
    wcaps AS MATERIALIZED (
      SELECT source, CAST(SUM(CASE WHEN n >= 50 THEN 1 ELSE 0 END)
                          AS HUGEINT) AS cap
      FROM wtk GROUP BY 1),
    wbdg AS (SELECT COALESCE(SUM(cap), 0) // 2 AS b FROM wcaps)"""
    tail = f"""
    SELECT w.source,
           CAST(w.w AS BIGINT) AS weight_tokens,
           CAST(c.cap AS BIGINT) AS cap,
           CAST(a.alloc AS BIGINT) AS alloc
    FROM wts w JOIN wcaps c USING (source)
    JOIN wa{rounds} a USING (source)
    """
    return head + waterfall_levels("wts", "wcaps", "wbdg", rounds) + tail


@query("quota_waterfall_sources", oracle=_waterfall_oracle(), gate=False)
def quota_waterfall_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPACITY-AWARE quota apportionment
    (``sampling.capped_weighted_quotas``) — the waterfall form of
    v8's rank-weighted sampling: sources are weighted by total token
    mass, capped by their supply of long documents (≥ 50 tokens),
    and HALF the total supply is apportioned so that quota mass a
    saturated source cannot absorb reallocates proportionally to the
    unsaturated ones over fixed rounds — no budget silently lost to
    the one-shot ``min(quota, cap)``. One source-keyed aggregate
    feeds the bounded driver waterfall; the result joins back
    broadcast. The oracle unrolls all 8 rounds (converged levels
    allocate zero on both engines; convergence pinned in tests)."""
    from ..operators.sampling import capped_weighted_quotas

    docs = table(spark, sf_dir, "documents")
    stats = (
        docs.select("source", F.size(TS.tokens(F.col("text"))).alias("n"))
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("weight_tokens"),
            F.sum((F.col("n") >= 50).cast("long")).cast("long").alias("cap"),
        )
    )
    from ..operators.materialize import materialize

    stats = materialize(stats)
    rows = stats.collect()  # bounded: |sources|
    weights = {r["source"]: int(r["weight_tokens"]) for r in rows}
    caps = {r["source"]: int(r["cap"]) for r in rows}
    budget = sum(caps.values()) // 2
    alloc = capped_weighted_quotas(weights, caps, budget, rounds=8)
    alloc_df = route.driver_frame(
        spark, [(s, int(a)) for s, a in alloc.items()], "source string, alloc long"
    )
    return stats.join(F.broadcast(alloc_df), "source").select(
        "source", "weight_tokens", "cap", "alloc"
    )
