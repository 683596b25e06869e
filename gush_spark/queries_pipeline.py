"""Training-data-pipeline query catalog — dedup / similarity / text
analysis / multimodal over the ``documents`` and ``embeddings`` tables.

Registered into the same driver-facing catalog as gush_spark.queries
(this module is imported from there). Every oracle reproduces the Spark
semantics exactly in DuckDB SQL; the shared primitives that make that
possible:

- md5() — identical hex in both engines;
- hex→int via first-N hex digits (Spark ``conv(.,16,10)`` ≡ DuckDB
  ``('0x'||.)::BIGINT``);
- sequential left folds (Spark ``aggregate`` ≡ DuckDB ``list_reduce``
  with a prepended init element) for bit-identical double arithmetic;
- all Spark ``size``/``row_number`` outputs cast to long (DuckDB's
  len()/row_number() are BIGINT and the driver hash is dtype-strict).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gush_spark.functions import text_analysis as ta
from gush_spark.operators import dedup, similarity, windows
from gush_spark.queries import load, query

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB)
# ---------------------------------------------------------------------------
NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
BASE = f"base AS (SELECT doc_id, {NORM} AS norm FROM documents)"
WORDS = "w AS (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM base)"
SHINGLE_LIST = (
    "list_distinct(list_transform(generate_series(1, len(ws)-2), "
    "i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))"
)
SHINGLES = (
    f"sh AS (SELECT doc_id, unnest({SHINGLE_LIST}) AS s FROM w WHERE len(ws) >= 3)"
)
_MINHASH_COLS = ", ".join(
    f"min(({dedup.MINHASH_A[j]} * h + {dedup.MINHASH_B[j]}) % {dedup.MINHASH_P})"
    f" AS mh{j}"
    for j in range(dedup.MINHASH_K)
)
HASHED = "hashed AS (SELECT doc_id, ('0x'||substring(md5(s), 1, 8))::BIGINT AS h FROM sh)"
SIGS = f"sigs AS (SELECT doc_id, {_MINHASH_COLS} FROM hashed GROUP BY doc_id)"
_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, {t} AS band, md5(concat_ws('|', "
    + ", ".join(f"mh{t * dedup.LSH_ROWS + r}" for r in range(dedup.LSH_ROWS))
    + ")) AS sig FROM sigs"
    for t in range(dedup.LSH_BANDS)
)
BANDS = f"bands AS ({_BAND_SELECTS})"
CAND = (
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
    "FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig "
    "AND a.doc_id < b.doc_id)"
)


def _dot_sql(a: str, b: str, n: str = "len({a})") -> str:
    prod = f"list_transform(generate_series(1, len({a})), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)"
    return f"list_reduce(list_prepend(0.0::DOUBLE, {prod}), (x, y) -> x + y)"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)}) / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


_BUCKET_SQL = "(" + " + ".join(
    f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END" for i in range(8)
) + ")::INTEGER"



# quality-feature fragments shared by text_quality_score, doc_featurize
# (inline variant) and curation_pipeline — ONE copy of the ratio math
# and the 0.25-blend so the oracles cannot drift apart
QUALITY_RATIOS = """len(ws) AS n_tokens,
             CAST(length(norm) - (len(ws) - 1) AS DOUBLE) / len(ws) AS mtl,
             CAST(len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS DOUBLE)
               / length(norm) AS pr,
             CAST(len(list_intersect(list_distinct(ws),
                  ['the','and','of','to','in','is','a','that','for','it'])) AS DOUBLE)
               / len(list_distinct(ws)) AS sr,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dr"""
QUALITY_SCORE = """round(0.25 * least(mtl / 8.0, 1.0)
               + 0.25 * (1.0 - least(pr * 4.0, 1.0))
               + 0.25 * least(sr * 5.0, 1.0)
               + 0.25 * dr, 6)"""


def _lang_score_cols() -> str:
    return ", ".join(
        "round(CAST(len(list_intersect(list_distinct(ws), ["
        + ", ".join(f"'{w}'" for w in ta.STOPWORDS[lang])
        + f"])) AS DOUBLE) / len(list_distinct(ws)), 6) AS score_{lang}"
        for lang in sorted(ta.STOPWORDS)
    )


def _lang_pred_expr() -> str:
    langs = sorted(ta.STOPWORDS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    return (
        "CASE "
        + " ".join(f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs)
        + " END"
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------
@query(
    "text_token_stats",
    oracle=f"""
    WITH {BASE}, {WORDS}
    SELECT doc_id,
           len(ws) AS n_ws_tokens,
           len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
           length(norm) AS n_chars,
           len(list_distinct(ws)) AS n_distinct_tokens
    FROM w
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    stats = ta.token_stats(F.col("text"))
    return docs.select(
        "doc_id", *[c.cast("long").alias(n) for n, c in stats.items()]
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH {{BASE}}, {{WORDS}}, feat AS (
      SELECT doc_id,
             {{QUALITY_RATIOS}}
      FROM w)
    SELECT doc_id, n_tokens,
           round(mtl, 6) AS mean_token_len,
           round(pr, 6) AS punct_ratio,
           round(sr, 6) AS stopword_ratio,
           round(dr, 6) AS distinct_ratio,
           {{QUALITY_SCORE}} AS quality_score
    FROM feat
    """.format(BASE=BASE, WORDS=WORDS, QUALITY_RATIOS=QUALITY_RATIOS,
               QUALITY_SCORE=QUALITY_SCORE),
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    feats = ta.quality_features(F.col("text"))
    cols = [
        feats["n_tokens"].cast("long").alias("n_tokens"),
        *[
            feats[n].alias(n)
            for n in ("mean_token_len", "punct_ratio", "stopword_ratio",
                      "distinct_ratio", "quality_score")
        ],
    ]
    return docs.select("doc_id", *cols)


def _langid_oracle() -> str:
    langs = sorted(ta.STOPWORDS)
    return f"""
    WITH {BASE}, {WORDS}, scored AS (
      SELECT doc_id, {_lang_score_cols()} FROM w)
    SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
           {_lang_pred_expr()} AS pred_lang
    FROM scored
    """


@query("text_lang_id", oracle=_langid_oracle())
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    scores = ta.lang_scores(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in scores.items()])


@query(
    "doc_fingerprints",
    oracle=f"""
    WITH {BASE}, {WORDS}
    SELECT doc_id,
           md5(norm) AS md5_fp,
           ('0x'||substring(md5(norm), 1, 15))::BIGINT AS fp60,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(ws, x -> ('0x'||substring(md5(x), 1, 7))::BIGINT)),
             (acc, h) -> (acc * {ta.ROLL_MUL} + h) % {ta.ROLL_MOD}) AS rolling_fp
    FROM w
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ta.md5_fingerprint(F.col("text")).alias("md5_fp"),
        ta.md5_fingerprint60(F.col("text")).alias("fp60"),
        ta.rolling_fingerprint(F.col("text")).alias("rolling_fp"),
    )


_GOPHER_STOPS = ", ".join(f"'{s}'" for s in ta.GOPHER_STOPWORDS)


@query(
    "gopher_quality_gate",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, text, {NORM} AS norm FROM documents
    ), feat AS (
      SELECT doc_id,
             len(string_split(norm, ' ')) AS n_words,
             length(norm) - (len(string_split(norm, ' ')) - 1) AS word_chars,
             (length(norm) - length(replace(norm, '#', '')))
               + (length(norm) - length(replace(norm, '...', ''))) // 3
               AS n_symbols,
             len(string_split(text, chr(10))) AS n_lines,
             len(list_filter(string_split(norm, ' '),
                 x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
             len(list_filter(string_split(text, chr(10)),
                 x -> starts_with(x, '- ') OR starts_with(x, '* ')
                      OR starts_with(x, '•'))) AS n_bullet_lines,
             len(list_filter(string_split(text, chr(10)),
                 x -> ends_with(x, '...'))) AS n_ellipsis_lines,
             len(list_intersect(list_distinct(string_split(norm, ' ')),
                 [{_GOPHER_STOPS}])) AS n_stopword_hits
      FROM raw
    ), rules AS (
      SELECT doc_id, n_words, word_chars, n_symbols, n_lines,
             n_alpha_words, n_stopword_hits,
             (n_words >= {ta.GOPHER_MIN_WORDS}
              AND n_words <= {ta.GOPHER_MAX_WORDS}) AS r_word_count,
             (3 * n_words <= word_chars
              AND word_chars <= 10 * n_words) AS r_mean_word_len,
             (10 * n_symbols <= n_words) AS r_symbol_ratio,
             (10 * n_ellipsis_lines < 3 * n_lines) AS r_ellipsis_lines,
             (10 * n_bullet_lines <= n_lines) AS r_bullet_lines,
             (10 * n_alpha_words >= 8 * n_words) AS r_alpha_words,
             (n_stopword_hits >= 2) AS r_stopwords
      FROM feat
    )
    SELECT *,
           (r_word_count AND r_mean_word_len AND r_symbol_ratio
            AND r_ellipsis_lines AND r_bullet_lines AND r_alpha_words
            AND r_stopwords) AS keep
    FROM rules
    """,
)
def q_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seven published Gopher/MassiveText quality rules (Rae et al.
    2021, A1.1) per document, with the per-rule verdicts, the counters
    behind them, and the conjunction ``keep`` — the industry-baseline
    heuristic gate alongside the repo's own blended quality_score. All
    thresholds compared as multiplied-out BIGINTs (never float ratios),
    so the gate is bit-exact across engines; one codegen projection,
    zero shuffles, zero Python."""
    docs = load(spark, sf_dir, "documents")
    cols = ta.gopher_rules(F.col("text"))
    wanted = [
        "n_words", "word_chars", "n_symbols", "n_lines", "n_alpha_words",
        "n_stopword_hits", "r_word_count", "r_mean_word_len",
        "r_symbol_ratio", "r_ellipsis_lines", "r_bullet_lines",
        "r_alpha_words", "r_stopwords", "keep",
    ]
    return docs.select("doc_id", *[cols[n].alias(n) for n in wanted])


@query(
    "c4_line_filter",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lns FROM documents
    ), kept AS (
      SELECT doc_id, text, len(lns) AS n_lines,
             list_filter(lns, ln ->
               regexp_matches(trim(ln), '[.!?"]$')
               AND len(string_split(
                     regexp_replace(lower(trim(ln)), '\\s+', ' ', 'g'),
                     ' ')) >= {ta.C4_MIN_LINE_WORDS}
               AND NOT contains(lower(ln), 'javascript')) AS klns
      FROM raw
    ), feat AS (
      SELECT doc_id, text, n_lines,
             len(klns) AS n_kept_lines,
             coalesce(array_to_string(klns, chr(10)), '') AS cleaned_text
      FROM kept
    ), rules AS (
      SELECT doc_id, n_lines, n_kept_lines,
             len(regexp_extract_all(cleaned_text, '[.!?]')) AS n_sentences,
             contains(lower(text), 'lorem ipsum') AS d_lorem,
             contains(text, '{{') AS d_brace,
             cleaned_text
      FROM feat
    )
    SELECT doc_id, n_lines, n_kept_lines, n_sentences, d_lorem, d_brace,
           (n_sentences >= {ta.C4_MIN_SENTENCES}) AS r_min_sentences,
           (NOT d_lorem AND NOT d_brace
            AND n_sentences >= {ta.C4_MIN_SENTENCES}) AS keep,
           cleaned_text
    FROM rules
    """,
)
def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning pass (Raffel et al. JMLR 2020 §2.2): line-level
    terminal-punctuation / min-words / javascript keeps plus the
    page-level lorem-ipsum / curly-brace / min-sentences drops, emitting
    the cleaned text alongside every verdict and counter. The
    industry-baseline web-cleaning heuristic next to gopher_quality_gate
    (document-level ratios) and boilerplate_line_removal
    (corpus-frequency line dedup) — C4's line rules are content-local,
    so this is one codegen projection: zero shuffles, zero Python.
    The fixture corpus is newline-free word soup, so the catalog run
    exercises the degenerate everything-dropped path end-to-end;
    the rule mechanics are pinned on synthetic multi-line texts in
    tests/test_pipeline_ops.py."""
    docs = load(spark, sf_dir, "documents")
    cols = ta.c4_rules(F.col("text"))
    wanted = [
        "n_lines", "n_kept_lines", "n_sentences", "d_lorem", "d_brace",
        "r_min_sentences", "keep", "cleaned_text",
    ]
    return docs.select("doc_id", *[cols[n].alias(n) for n in wanted])


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------
@query(
    "exact_dedup",
    oracle=f"""
    WITH {BASE}
    SELECT doc_id, md5(norm) AS fingerprint,
           row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS dup_rank,
           row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) = 1 AS is_kept
    FROM base
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = dedup.exact_dedup(docs, "doc_id", "text")
    return out.select(
        "doc_id", "fingerprint", F.col("dup_rank").cast("long").alias("dup_rank"),
        "is_kept",
    )


@query(
    "minhash_signatures",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}
    SELECT doc_id, {_MINHASH_COLS} FROM hashed GROUP BY doc_id
    """,
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, "doc_id", "text", spread=None)


@query(
    "lsh_candidate_pairs",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """,
)
def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs, "doc_id", "text", spread=None)


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS}, {CAND},
    shl AS (SELECT doc_id, {SHINGLE_LIST} AS shs FROM w WHERE len(ws) >= 3)
    SELECT id_a, id_b,
           CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
             / len(list_distinct(list_concat(x.shs, y.shs))) AS jaccard
    FROM cand JOIN shl x ON x.doc_id = id_a JOIN shl y ON y.doc_id = id_b
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.0, spread=None)


@query(
    "edit_distance_verify",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS}, {CAND},
    pref AS (SELECT doc_id, substring(norm, 1, 256) AS p FROM base),
    scored AS (
      SELECT id_a, id_b,
             CAST(levenshtein(x.p, y.p) AS BIGINT) AS dist,
             CAST(greatest(length(x.p), length(y.p)) AS BIGINT) AS maxlen
      FROM cand JOIN pref x ON x.doc_id = id_a
                JOIN pref y ON y.doc_id = id_b)
    SELECT id_a, id_b, dist,
           CAST(CASE WHEN maxlen = 0 THEN 1000000
                ELSE (maxlen - dist) * 1000000 // maxlen END AS BIGINT)
             AS sim_ppm,
           (CASE WHEN maxlen = 0 THEN 1000000
                 ELSE (maxlen - dist) * 1000000 // maxlen END) >= 800000
             AS is_dup
    FROM scored
    """,
)
def q_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein adjudication of the LSH candidate pairs over
    256-char normalized prefixes (operators/dedup.py::
    edit_distance_pairs) — the character-level verify tier where
    shingle Jaccard is blind (short/templated texts). Only the bounded
    prefix crosses the two id-keyed joins; the distance is JVM codegen
    with fixed per-pair cost; sim_ppm is truncating BIGINT on both
    engines."""
    docs = load(spark, sf_dir, "documents")
    return dedup.edit_distance_pairs(docs, "doc_id", "text", spread=None)


_JEDGES = (
    "jedges AS (SELECT id_a, id_b FROM cand "
    "JOIN shl x ON x.doc_id = id_a JOIN shl y ON y.doc_id = id_b "
    "WHERE CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) "
    "/ len(list_distinct(list_concat(x.shs, y.shs))) >= 0.6)"
)


# asymmetric containment at crawl scale: inverted-index join keyed by
# the shingle's 60-bit md5 prefix (8-byte longs on the shuffle wire instead of raw
# n-gram strings). Oracle = the SAME string-keyed SQL: the exact
# set-verify stage absorbs hash collisions, so hash-equality here PROVES
# the hashed blocking loses/adds nothing on this corpus.
@query(
    "containment_pairs_hashed",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES},
    shl AS (SELECT doc_id, {SHINGLE_LIST} AS shs FROM w WHERE len(ws) >= 3),
    cand AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2)
    SELECT id_a, id_b,
           CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
             / len(x.shs) AS containment_a,
           CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
             / len(y.shs) AS containment_b,
           CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
             / len(list_distinct(list_concat(x.shs, y.shs))) AS jaccard
    FROM cand JOIN shl x ON x.doc_id = id_a JOIN shl y ON y.doc_id = id_b
    """,
)
def q_containment_pairs_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, "doc_id", "text", threshold=0.0, spread=None, hash_keys=True
    )


@query(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS}, {CAND},
    shl AS (SELECT doc_id, {SHINGLE_LIST} AS shs FROM w WHERE len(ws) >= 3),
    {_JEDGES},
    edges AS (SELECT id_a AS src, id_b AS dst FROM jedges
              UNION ALL SELECT id_b, id_a FROM jedges),
    walk(id, lbl) AS (
      SELECT doc_id, doc_id FROM base
      UNION
      SELECT e.dst, w2.lbl FROM walk w2 JOIN edges e ON e.src = w2.id
    )
    SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id
    """,
)
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.near_dup_clusters(docs, "doc_id", "text", threshold=0.6, spread=None)


_SIMHASH_BITS = ", ".join(
    f"sum(((h>>{b})&1)*2 - 1) AS s{b}" for b in range(32)
)
_SIMHASH_COMBINE = " + ".join(
    f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
)


@query(
    "simhash",
    oracle=f"""
    WITH {BASE},
    wr AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS word FROM base),
    h AS (SELECT doc_id, ('0x'||substring(md5(word), 1, 15))::BIGINT AS h FROM wr),
    bits AS (SELECT doc_id, {_SIMHASH_BITS} FROM h GROUP BY doc_id)
    SELECT doc_id, ({_SIMHASH_COMBINE})::BIGINT AS simhash FROM bits
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash32(docs, "doc_id", "text", spread=None)


# the oracle is deliberately brute-force all-pairs: the Spark side's
# pigeonhole blocking (max_hamming+1 disjoint segments) claims complete
# recall, so blocked-Spark vs unblocked-DuckDB hash-matching PROVES no
# qualifying pair was lost to blocking
@query(
    "simhash_near_dup_pairs",
    oracle=f"""
    WITH {BASE},
    wr AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS word FROM base),
    h AS (SELECT doc_id, ('0x'||substring(md5(word), 1, 15))::BIGINT AS h FROM wr),
    bits AS (SELECT doc_id, {_SIMHASH_BITS} FROM h GROUP BY doc_id),
    sims AS (SELECT doc_id, ({_SIMHASH_COMBINE})::BIGINT AS simhash FROM bits)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = dedup.simhash_hamming_pairs(docs, "doc_id", "text", max_hamming=3, spread=None)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


_FEAT_SHS = f"CASE WHEN len(ws) >= 3 THEN {SHINGLE_LIST} ELSE [] END"
_FEAT_MH = "list_transform({shs}, s -> ('0x'||substring(md5(s), 1, 8))::BIGINT)"


def _mh_sql(j: int) -> str:
    hs = _FEAT_MH.format(shs="shs")
    return (
        f"list_aggregate(list_transform({hs}, "
        f"h -> ({dedup.MINHASH_A[j]} * h + {dedup.MINHASH_B[j]}) % {dedup.MINHASH_P}),"
        f" 'min')"
    )


@query(
    "doc_featurize",
    oracle=f"""
    WITH {BASE}, {WORDS},
    shl2 AS (SELECT doc_id, norm, ws, {_FEAT_SHS} AS shs FROM w),
    feat AS (
      SELECT doc_id,
             CAST(length(norm) - (len(ws) - 1) AS DOUBLE) / len(ws) AS mtl,
             CAST(len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS DOUBLE)
               / length(norm) AS pr,
             CAST(len(list_intersect(list_distinct(ws),
                  ['the','and','of','to','in','is','a','that','for','it'])) AS DOUBLE)
               / len(list_distinct(ws)) AS sr,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dr,
             ('0x'||substring(md5(norm), 1, 15))::BIGINT AS fp60,
             list_reduce(
               list_prepend(0::BIGINT,
                 list_transform(ws, x -> ('0x'||substring(md5(x), 1, 7))::BIGINT)),
               (acc, h) -> (acc * {ta.ROLL_MUL} + h) % {ta.ROLL_MOD}) AS rolling_fp,
             {_mh_sql(0)} AS mh_first,
             {_mh_sql(dedup.MINHASH_K - 1)} AS mh_last
      FROM shl2)
    SELECT doc_id,
           round(0.25 * least(mtl / 8.0, 1.0)
               + 0.25 * (1.0 - least(pr * 4.0, 1.0))
               + 0.25 * least(sr * 5.0, 1.0)
               + 0.25 * dr, 6) AS quality_score,
           fp60, rolling_fp, mh_first, mh_last
    FROM feat
    """,
)
def q_doc_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gush_spark.operators.featurize import featurize

    docs = load(spark, sf_dir, "documents")
    out = featurize(docs, "text")
    return out.select(
        "doc_id", "quality_score", "fp60", "rolling_fp",
        F.element_at("minhash", 1).alias("mh_first"),
        F.element_at("minhash", dedup.MINHASH_K).alias("mh_last"),
    )


# ---------------------------------------------------------------------------
# end-to-end corpus curation — the flagship composite: near-dup
# clustering (keep the canonical per cluster), quality gate and
# language gate in ONE query, i.e. exactly the selection pass a
# training-data build runs over a crawl. Composes the already-verified
# operators; the oracle re-assembles the same pipeline from the shared
# SQL fragments (clusters are the recursive-CTE connected components).
# Scale shape: clustering dominates (LSH candidates + label
# propagation); quality/lang are pure column expressions fused into the
# final projection — no extra shuffle beyond the doc_id join.
# ---------------------------------------------------------------------------
def _quality_feat_cte() -> str:
    return f"""qfeat AS (
      SELECT doc_id,
             {QUALITY_RATIOS}
      FROM w),
    quality AS (
      SELECT doc_id, n_tokens,
             {QUALITY_SCORE} AS quality_score
      FROM qfeat)"""


def _lang_pred_cte() -> str:
    return (
        f"langscored AS (SELECT doc_id, {_lang_score_cols()} FROM w), "
        f"langs AS (SELECT doc_id, {_lang_pred_expr()} AS pred_lang "
        f"FROM langscored)"
    )


@query(
    "curation_pipeline",
    oracle=f"""
    WITH RECURSIVE {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS}, {CAND},
    shl AS (SELECT doc_id, {SHINGLE_LIST} AS shs FROM w WHERE len(ws) >= 3),
    {_JEDGES},
    edges AS (SELECT id_a AS src, id_b AS dst FROM jedges
              UNION ALL SELECT id_b, id_a FROM jedges),
    walk(id, lbl) AS (
      SELECT doc_id, doc_id FROM base
      UNION
      SELECT e.dst, w2.lbl FROM walk w2 JOIN edges e ON e.src = w2.id
    ),
    clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id),
    {_quality_feat_cte()},
    {_lang_pred_cte()}
    SELECT q.doc_id, q.n_tokens, q.quality_score, l.pred_lang
    FROM quality q
    JOIN langs l ON l.doc_id = q.doc_id
    JOIN clusters c ON c.doc_id = q.doc_id
    WHERE c.cluster_id = q.doc_id
      AND q.quality_score >= 0.5
      AND l.pred_lang = 'en'
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    canon = dedup.canonical_per_cluster(docs, "doc_id", "text", threshold=0.6, spread=None)
    # stage the norm/words arrays and per-language scores as bound
    # columns (featurize.py pattern): argmax_lang references each score
    # several times, and Catalyst inlines projection expressions without
    # CSE — unbound, every reference re-ran the whole lower/regex/split
    # chain (measured 30s -> ~4s at sf0.1 for this query)
    langs = sorted(ta.STOPWORDS)
    staged = (
        docs.join(canon.filter(F.col("is_canonical")).select("doc_id"), "doc_id")
        .withColumn("_norm", ta.norm_text(F.col("text")))
        .withColumn("_ws", F.split(F.col("_norm"), " "))
    )
    lang_sc = ta.lang_scores(F.col("text"), ws=F.col("_ws"))
    for lg in langs:
        staged = staged.withColumn(f"_sc_{lg}", lang_sc[f"score_{lg}"])
    feats = ta.quality_features(
        F.col("text"), norm=F.col("_norm"), ws=F.col("_ws")
    )
    pred = ta.argmax_lang({f"score_{lg}": F.col(f"_sc_{lg}") for lg in langs})
    scored = staged.select(
        "doc_id",
        feats["n_tokens"].cast("long").alias("n_tokens"),
        feats["quality_score"].alias("quality_score"),
        pred.alias("pred_lang"),
    )
    # materialization barrier: the gate filter would otherwise be pushed
    # into a Filter node that re-evaluates every feature expression
    # (Filter + Project each inline the full interpreted-lambda trees —
    # measured ~2x the feature cost). doc_id is unique and the canon
    # join already hash-partitioned on it, so this aggregate adds NO
    # exchange; its outputs are computed once and the filter above
    # cannot be pushed below an aggregate result.
    barrier = scored.groupBy("doc_id").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.first("quality_score").alias("quality_score"),
        F.first("pred_lang").alias("pred_lang"),
    )
    return barrier.filter(
        (F.col("quality_score") >= 0.5) & (F.col("pred_lang") == "en")
    )


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------
@query(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings)
    SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
           round({_cos_sql("a.embedding", "bb.embedding")}, 6) AS cos_sim
    FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
    WHERE round({_cos_sql("a.embedding", "bb.embedding")}, 6) >= 0.3
    """,
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(vecs, threshold=0.3)


@query(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
               WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             round({_cos_sql("q.q_vec", "v.embedding")}, 6) AS score
      FROM q JOIN embeddings v ON v.vec_id != q.query_id)
    SELECT query_id, neighbor_id, score,
           rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    out = similarity.brute_force_topk(vecs, queries_df, k=5)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank")
    )


@query(
    "knn_label_agreement",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS query_id, embedding AS q_vec,
             label AS true_label
      FROM embeddings
      WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
            % 25 = 0),
    scored AS (
      SELECT p.query_id, p.true_label, v.vec_id AS nid, v.label AS nlabel,
             round({_cos_sql("p.q_vec", "v.embedding")}, 6) AS score
      FROM probes p JOIN embeddings v ON v.vec_id != p.query_id),
    top AS (
      SELECT query_id, true_label, nlabel FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, nid) <= 5),
    votes AS (
      SELECT query_id, true_label, nlabel, count(*) AS c
      FROM top GROUP BY 1, 2, 3),
    pred AS (
      SELECT query_id, true_label, nlabel AS pred_label FROM votes
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY c DESC, nlabel) = 1)
    SELECT CAST(true_label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS acc_ppm
    FROM pred GROUP BY 1
    """,
)
def q_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space smoke test (operators/similarity.py::
    knn_label_eval): per-label k-NN label-agreement accuracy over a
    deterministic md5-sampled probe slice (~1/25 of vectors) — exact
    cosine top-5 via the broadcast brute-force path (corpus never
    shuffles), majority vote with most-votes-then-smallest-label ties,
    accuracy in exact BIGINT ppm."""
    vecs = load(spark, sf_dir, "embeddings")
    probe_bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 25
    )
    return similarity.knn_label_eval(vecs, vecs.filter(probe_bucket == 0), k=5)


@query(
    "ann_topk_lsh",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket FROM b
          WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             round({_cos_sql("q.q_vec", "v.embedding")}, 6) AS score
      FROM q JOIN b v ON v.bucket = q.bucket AND v.vec_id != q.query_id)
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    out = similarity.lsh_topk(vecs, queries_df, k=5)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank")
    )


_PROBE_LIST = "[bucket, " + ", ".join(f"xor(bucket, {1 << i})" for i in range(8)) + "]"


@query(
    "ann_topk_lsh_multiprobe",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
    q0 AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket FROM b
           WHERE vec_id < 8),
    q AS (SELECT query_id, q_vec, unnest({_PROBE_LIST}) AS bucket FROM q0),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             round({_cos_sql("q.q_vec", "v.embedding")}, 6) AS score
      FROM q JOIN b v ON v.bucket = q.bucket AND v.vec_id != q.query_id)
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def q_ann_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    out = similarity.lsh_topk_multiprobe(vecs, queries_df, k=5)
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank")
    )


def _kmeans_parts(
    n_cells: int, iters: int, quantized_assign: bool = False
) -> list[str]:
    """DuckDB replica of similarity.kmeans_cells, one CTE pair per
    unrolled Lloyd's iteration, ending with ``reps (cell, rep_vec)``
    and ``lab (vec_id, embedding, cell)``. Bit-equality hinges on the
    quantized-long centroid update: integer sums are order-independent,
    so both engines train the SAME centroids (similarity.KMEANS_QUANT).
    ``quantized_assign`` replicates the assign_quantized=True score
    (integer dot of floor-quantized coords — the LONG fold here equals
    Spark's groupBy sum regardless of order). Shared by the IVF top-k
    and SemDeDup oracles."""
    q = similarity.KMEANS_QUANT
    parts = [
        f"qv AS (SELECT vec_id, embedding, list_transform(embedding,"
        f" x -> floor(x::DOUBLE * {q})::BIGINT) AS qvec FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cell,"
        f" list_transform(embedding, x -> x::DOUBLE) AS c_vec"
        f" FROM embeddings ORDER BY vec_id LIMIT {n_cells})",
    ]
    for i in range(iters):
        if quantized_assign:
            cnorm = (
                "sqrt(" + _dot_sql("c_vec", "c_vec") + ")"
            )
            iqdot = (
                "list_reduce(list_prepend(CAST(0 AS BIGINT),"
                " list_transform(generate_series(1, len(v.qvec)),"
                " i -> v.qvec[i] * c.cn[i])), (x, y) -> x + y)"
            )
            parts.append(
                f"cn{i} AS (SELECT cell, list_transform(c_vec,"
                f" x -> floor(x / {cnorm} * {q})::BIGINT) AS cn FROM c{i})"
            )
            parts.append(
                f"a{i + 1} AS (SELECT vec_id, qvec, cell FROM ("
                f"SELECT v.vec_id, v.qvec, c.cell,"
                f" row_number() OVER (PARTITION BY v.vec_id"
                f" ORDER BY {iqdot} DESC, c.cell) AS rn"
                f" FROM qv v CROSS JOIN cn{i} c) WHERE rn = 1)"
            )
        else:
            parts.append(
                f"a{i + 1} AS (SELECT vec_id, qvec, cell FROM ("
                f"SELECT v.vec_id, v.qvec, c.cell,"
                f" row_number() OVER (PARTITION BY v.vec_id"
                f" ORDER BY {_cos_sql('v.embedding', 'c.c_vec')} DESC, c.cell) AS rn"
                f" FROM qv v CROSS JOIN c{i} c) WHERE rn = 1)"
            )
        parts.append(
            f"s{i + 1} AS (SELECT cell, pos, sum(val) AS s, count(*) AS n FROM ("
            f"SELECT cell, unnest(qvec) AS val,"
            f" generate_subscripts(qvec, 1) AS pos FROM a{i + 1})"
            f" GROUP BY cell, pos)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT cell,"
            f" list((s::DOUBLE / n) / {q} ORDER BY pos) AS c_vec"
            f" FROM s{i + 1} GROUP BY cell)"
        )
    parts.append(f"reps AS (SELECT cell, c_vec AS rep_vec FROM c{iters})")
    parts.append(
        f"lab AS (SELECT v.vec_id, v.embedding, a.cell"
        f" FROM embeddings v JOIN a{iters} a USING (vec_id))"
    )
    return parts


def _kmeans_ivf_sql(n_cells: int, iters: int, n_probe: int, k: int) -> str:
    parts = _kmeans_parts(n_cells, iters)
    parts.append(
        "qq AS (SELECT vec_id AS query_id, embedding AS q_vec"
        " FROM embeddings WHERE vec_id < 8)"
    )
    parts.append(
        f"probed AS (SELECT query_id, q_vec, cell FROM ("
        f"SELECT q.query_id, q.q_vec, r.cell,"
        f" row_number() OVER (PARTITION BY q.query_id"
        f" ORDER BY round({_cos_sql('q.q_vec', 'r.rep_vec')}, 6) DESC, r.cell) AS pr"
        f" FROM qq q CROSS JOIN reps r) WHERE pr <= {n_probe})"
    )
    parts.append(
        f"scored AS (SELECT p.query_id, v.vec_id AS neighbor_id,"
        f" round({_cos_sql('p.q_vec', 'v.embedding')}, 6) AS score"
        f" FROM probed p JOIN lab v"
        f" ON v.cell = p.cell AND v.vec_id != p.query_id)"
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= {k}
    """
    )


@query("ann_topk_ivf_kmeans", oracle=_kmeans_ivf_sql(10, 2, 2, 5))
def q_ann_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    out = similarity.kmeans_ivf_topk(
        vecs, queries_df, k=5, n_probe=2, n_cells=10, iters=2
    )
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# deterministic dataset splitting — reproducible train/val/test
# assignment by CONTENT-INDEPENDENT id hash (md5 bucket), never by
# rand(): the split of a document is a pure function of its id, so it
# is stable across runs, engines, cluster sizes and task retries, and
# a re-crawled corpus keeps every doc in its original split (no
# train/test leakage from resampling). 80/10/10 by md5 bucket.
# ---------------------------------------------------------------------------
@query(
    "hash_split_sample",
    oracle="""
    WITH assigned AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS bucket
      FROM documents)
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           bucket
    FROM assigned
    """,
)
def q_hash_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return docs.select(
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        bucket.alias("bucket"),
    )


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------
@query(
    "multimodal_blob_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS blob_len,
           md5(text) AS blob_md5
    FROM documents
    """,
)
def q_multimodal_blob_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest + length over an opaque binary column — pure JVM
    expressions (``F.length``/``F.md5`` work on binary directly; no
    Python eval node in this plan). The mapInPandas path
    (functions/multimodal.with_blob_features) remains the CODEC
    plumbing contract — the Arrow-batched hot path a real decode step
    plugs into — and is pinned equal to this query by pytest; JVM-
    expressible work stays JVM-side."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "blob", F.encode(F.col("text"), "UTF-8")
    )
    return docs.select(
        "doc_id",
        F.length(F.col("blob")).cast("long").alias("blob_len"),
        F.md5(F.col("blob")).alias("blob_md5"),
    )


@query(
    "top_docs_per_source",
    oracle="""
    SELECT source, doc_id, n_chars, rnk
    FROM (
      SELECT source, doc_id, n_chars,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS BIGINT) AS rnk
      FROM documents
    )
    WHERE rnk <= 3
    """,
)
def q_top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k — the grouped twin of the global top_users.

    Scale shape: the rank-filter is pushed into a WindowGroupLimit
    (Spark ≥3.5), which keeps only k rows per group per PARTITION
    before the window exchange — the shuffle carries ≤ k·groups·
    partitions rows, not the table (asserted by explain_audit
    `topk.window_group_limit`). The deterministic tie-break (doc_id)
    makes the result engine-stable, same rule as top_users.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
    )


@query(
    "stratified_sample_quota",
    oracle="""
    SELECT lang, doc_id, qrank
    FROM (
      SELECT lang, doc_id,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS qrank
      FROM documents
    )
    WHERE qrank <= 40
    """,
)
def q_stratified_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: at most N docs per stratum.

    The training-mix capper: dominant languages/sources are clipped to
    a quota while small strata keep everything. Selection order inside
    a stratum is the md5 of the id — content-independent, so the
    sample is stable under retries, engines, repartitioning AND
    adding/removing OTHER strata (unlike rand()-based sampleBy, whose
    output changes per run and per partitioning). Same
    WindowGroupLimit shape as top_docs_per_source: each partition
    keeps ≤ quota rows per stratum before the exchange, so at crawl
    scale the shuffle carries quota·strata·partitions rows, not the
    corpus."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).cast("long").alias("qrank")
        )
        .where(F.col("qrank") <= 40)
    )


@query(
    "frequent_phrases_hashed",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
      SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gram
      FROM t, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) r
    )
    SELECT min(gram) AS gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occurrences
    FROM g GROUP BY md5(gram)
    HAVING count(DISTINCT doc_id) >= 5
    """,
)
def q_frequent_phrases_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document frequent-phrase mining (word 3-grams in ≥ 5 docs)
    — the phrase-level boilerplate/contamination detector: template
    sentences, licence blurbs and benchmark prompts surface as n-grams
    shared by many documents, and the hit list drives removal.

    The shuffle key is md5(gram) (16 bytes however long the phrase is)
    and the phrase text rides along as min(gram) — deterministic even
    under the astronomically-unlikely digest collision. The oracle
    groups by md5(gram) too; the string-keyed grouping returns the same
    rows on this corpus, the same proof pattern as
    containment_pairs_hashed."""
    docs = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - F.lit(2)),
            lambda i: F.array_join(F.slice(w, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy(F.md5(F.col("gram")).alias("gkey"))
        .agg(
            F.min("gram").alias("gram"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 5)
        .drop("gkey")
    )


# ---------------------------------------------------------------------------
# incremental dedup: a new batch against the historical corpus
# (operators/incremental.py) — the daily-crawl append pattern. The
# batch split is deterministic for oracles: doc_id % 10 < 2 is
# "today's crawl" (~20%), the rest is the historical corpus.
# ---------------------------------------------------------------------------
_NEWPRED = "doc_id % 10 < 2"
_CORPRED = "doc_id % 10 >= 2"


def _split_docs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = load(spark, sf_dir, "documents")
    return docs.filter(_NEWPRED), docs.filter(_CORPRED)


@query(
    "incremental_exact_dedup",
    oracle=f"""
    WITH {BASE},
    nf AS (SELECT doc_id, md5(norm) AS fingerprint FROM base WHERE {_NEWPRED}),
    cf AS (SELECT DISTINCT md5(norm) AS fingerprint FROM base WHERE {_CORPRED}),
    ranked AS (SELECT doc_id, fingerprint,
               row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id)
                 AS batch_rank
               FROM nf)
    SELECT r.doc_id, r.fingerprint,
           (cf.fingerprint IS NOT NULL) AS in_corpus,
           r.batch_rank,
           (cf.fingerprint IS NULL AND r.batch_rank = 1) AS is_kept
    FROM ranked r LEFT JOIN cf ON r.fingerprint = cf.fingerprint
    """,
)
def q_incremental_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of a new batch vs the corpus fingerprint index —
    the corpus side is a map-only scan (broadcast new side), see
    operators/incremental.py."""
    from gush_spark.operators import incremental

    new, corpus = _split_docs(spark, sf_dir)
    return incremental.incremental_exact_dedup(
        new, corpus, "doc_id", "text", spread=None
    )


@query(
    "incremental_near_dup",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS},
    cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
             FROM bands n JOIN bands c ON n.band = c.band AND n.sig = c.sig
             WHERE n.{_NEWPRED} AND c.{_CORPRED}),
    shl AS (SELECT doc_id, {SHINGLE_LIST} AS shs FROM w WHERE len(ws) >= 3)
    SELECT new_id, corpus_id,
           CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
             / len(list_distinct(list_concat(x.shs, y.shs))) AS jaccard
    FROM cand JOIN shl x ON x.doc_id = new_id JOIN shl y ON y.doc_id = corpus_id
    """,
)
def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus near-dup pairs via the corpus band index —
    candidate cost scales with |new|, not |corpus|²."""
    from gush_spark.operators import incremental

    new, corpus = _split_docs(spark, sf_dir)
    return incremental.incremental_near_dup_pairs(
        new, corpus, "doc_id", "text", threshold=0.0, spread=None
    )


@query(
    "incremental_curate",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS},
    nf AS (SELECT doc_id, md5(norm) AS fingerprint FROM base WHERE {_NEWPRED}),
    cf AS (SELECT DISTINCT md5(norm) AS fingerprint FROM base WHERE {_CORPRED}),
    ranked AS (SELECT doc_id, fingerprint,
               row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id)
                 AS batch_rank
               FROM nf),
    shl AS (SELECT doc_id, {SHINGLE_LIST} AS shs FROM w WHERE len(ws) >= 3),
    ncand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
              FROM bands n JOIN bands c ON n.band = c.band AND n.sig = c.sig
              WHERE n.{_NEWPRED} AND c.{_CORPRED}),
    nearc AS (SELECT DISTINCT new_id AS doc_id FROM ncand
              JOIN shl x ON x.doc_id = new_id
              JOIN shl y ON y.doc_id = corpus_id
              WHERE CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
                    / len(list_distinct(list_concat(x.shs, y.shs))) >= 0.6),
    bcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
              AND a.doc_id < b.doc_id
              WHERE a.{_NEWPRED} AND b.{_NEWPRED}),
    nearb AS (SELECT DISTINCT id_b AS doc_id FROM bcand
              JOIN shl x ON x.doc_id = id_a
              JOIN shl y ON y.doc_id = id_b
              WHERE CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
                    / len(list_distinct(list_concat(x.shs, y.shs))) >= 0.6)
    SELECT r.doc_id,
           (cf.fingerprint IS NOT NULL) AS in_corpus,
           r.batch_rank,
           (nearc.doc_id IS NOT NULL) AS near_corpus,
           (nearb.doc_id IS NOT NULL) AS near_batch,
           (cf.fingerprint IS NULL AND r.batch_rank = 1
            AND nearc.doc_id IS NULL AND nearb.doc_id IS NULL) AS is_kept
    FROM ranked r
    LEFT JOIN cf ON r.fingerprint = cf.fingerprint
    LEFT JOIN nearc ON nearc.doc_id = r.doc_id
    LEFT JOIN nearb ON nearb.doc_id = r.doc_id
    """,
)
def q_incremental_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite append decision with full audit trail: exact
    (corpus + within-batch), near-corpus, near-within-batch."""
    from gush_spark.operators import incremental

    new, corpus = _split_docs(spark, sf_dir)
    return incremental.incremental_curate(
        new, corpus, "doc_id", "text", threshold=0.6, spread=None
    )


@query(
    "repetition_scores",
    oracle=f"""
    WITH {BASE}, {WORDS},
    uni AS (SELECT doc_id, len(ws) AS n_tokens, unnest(ws) AS g FROM w),
    ucnt AS (SELECT doc_id, n_tokens, md5(g) AS gk, count(*) AS c
             FROM uni GROUP BY 1, 2, 3),
    umax AS (SELECT doc_id, n_tokens, max(c) AS umx,
             CAST(count(*) AS BIGINT) AS udistinct
             FROM ucnt GROUP BY 1, 2),
    big AS (SELECT doc_id,
            unnest(list_transform(generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i + 1])) AS g
            FROM w WHERE len(ws) >= 2),
    bcnt AS (SELECT doc_id, md5(g) AS gk, count(*) AS c FROM big GROUP BY 1, 2),
    bmax AS (SELECT doc_id, max(c) AS bmx FROM bcnt GROUP BY 1)
    SELECT u.doc_id, u.n_tokens,
           u.umx::DOUBLE / u.n_tokens AS top_token_frac,
           u.udistinct::DOUBLE / u.n_tokens AS distinct_token_ratio,
           coalesce(b.bmx, 0)::DOUBLE / greatest(u.n_tokens - 1, 1)
             AS top_bigram_frac
    FROM umax u LEFT JOIN bmax b ON u.doc_id = b.doc_id
    """,
)
def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality scores
    (operators/repetition.py): one explode, two hash aggs, md5 gram
    keys on the wire."""
    from gush_spark.operators.repetition import repetition_scores

    docs = load(spark, sf_dir, "documents")
    return repetition_scores(docs, "doc_id", "text", spread=None)


@query(
    "decontaminate_overlap",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES},
    dsh AS (SELECT doc_id, md5(s) AS sk FROM sh),
    bench AS (SELECT DISTINCT sk FROM dsh WHERE doc_id % 50 = 0),
    per AS (SELECT d.doc_id,
                   CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(count(b.sk) AS BIGINT) AS n_matched
            FROM dsh d LEFT JOIN bench b ON d.sk = b.sk GROUP BY 1),
    scored AS (SELECT i.doc_id,
                      coalesce(p.n_shingles, 0) AS n_shingles,
                      coalesce(p.n_matched, 0) AS n_matched,
                      coalesce(p.n_matched / p.n_shingles, 0.0) AS overlap
               FROM (SELECT doc_id FROM documents) i
               LEFT JOIN per p ON i.doc_id = p.doc_id)
    SELECT doc_id, n_shingles, n_matched, overlap,
           overlap >= 0.5 AS contaminated
    FROM scored
    """,
)
def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): the
    benchmark set is every 50th doc; its distinct shingle md5 keys are
    broadcast and the corpus side scores overlap in one map-side-
    combinable agg."""
    from gush_spark.operators.decontaminate import ngram_overlap

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return ngram_overlap(docs, bench, "doc_id", "text", threshold=0.5)


# ---------------------------------------------------------------------------
# PII scrubbing, boilerplate-line removal, sequence packing, domain
# reputation — the remaining standard passes of a web-scale training
# pipeline. The synthetic corpus carries no PII / newline structure, so
# the query layer injects deterministic PII strings and line boundaries
# IDENTICALLY on both engines; the operators themselves are input-
# agnostic (gush_spark/operators/{scrub,lines,packing,domains}.py).
# ---------------------------------------------------------------------------

# deterministic PII injection, same expression both engines
_INJ_SQL = """injected AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 3 = 0
                THEN ' contact user' || doc_id || '@example.com' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END
        AS t0
      FROM documents)"""

_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_PAT = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_IPV4_PAT = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "pii_scrub_report",
    oracle="WITH " + _INJ_SQL + f"""
    , s1 AS (SELECT doc_id,
               CAST(len(regexp_extract_all(t0, '{_EMAIL_PAT}')) AS BIGINT) AS n_email,
               regexp_replace(t0, '{_EMAIL_PAT}', '<EMAIL>', 'g') AS t1
             FROM injected),
    s2 AS (SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t1, '{_PHONE_PAT}')) AS BIGINT) AS n_phone,
             regexp_replace(t1, '{_PHONE_PAT}', '<PHONE>', 'g') AS t2
           FROM s1),
    s3 AS (SELECT doc_id, n_email, n_phone,
             CAST(len(regexp_extract_all(t2, '{_IPV4_PAT}')) AS BIGINT) AS n_ipv4,
             regexp_replace(t2, '{_IPV4_PAT}', '<IP>', 'g') AS clean_text
           FROM s2)
    SELECT doc_id, clean_text, n_email, n_phone, n_ipv4,
           n_email + n_phone + n_ipv4 AS n_pii
    FROM s3
    """,
)
def q_pii_scrub_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/scrub.py): progressive email -> phone ->
    ipv4 regex passes, pure JVM codegen, zero shuffles."""
    from gush_spark.operators.scrub import scrub_pii

    docs = load(spark, sf_dir, "documents")
    return scrub_pii(_inject_pii(docs), "doc_id", "text")


# 8-word pseudo-lines + injected banner lines: the corpus has no real
# newlines, so line boundaries are derived identically on both engines
_BANNER_A = "subscribe to our newsletter now for free updates"
_BANNER_B = "all rights reserved by the site owner today"
_LINES_SQL = f"""ldocs AS (
      SELECT doc_id,
        list_concat(list_concat(
          CASE WHEN doc_id % 4 = 0 THEN ['{_BANNER_A}'] ELSE []::VARCHAR[] END,
          list_transform(
            generate_series(1, CAST(ceil(len(ws) / 8.0) AS BIGINT)),
            i -> array_to_string(list_slice(ws, (i-1)*8+1, (i-1)*8+8), ' '))),
          CASE WHEN doc_id % 6 = 0 THEN ['{_BANNER_B}'] ELSE []::VARCHAR[] END
        ) AS lines
      FROM w)"""


@query(
    "boilerplate_line_removal",
    oracle=f"""
    WITH {BASE}, {WORDS}, {_LINES_SQL},
    exploded AS (
      SELECT doc_id, i AS pos, md5(lines[i]) AS lk, lines[i] AS line
      FROM ldocs, unnest(generate_series(1, len(lines))) AS t(i)),
    freq AS (SELECT lk FROM (SELECT lk, count(DISTINCT doc_id) AS nd
                             FROM exploded GROUP BY 1) WHERE nd >= 10),
    kept AS (SELECT e.* FROM exploded e ANTI JOIN freq f ON e.lk = f.lk),
    rebuilt AS (SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                       CAST(count(*) AS BIGINT) AS n_kept
                FROM kept GROUP BY 1)
    SELECT l.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(len(l.lines) AS BIGINT) AS n_lines,
           CAST(len(l.lines) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM ldocs l LEFT JOIN rebuilt r ON l.doc_id = r.doc_id
    """,
)
def q_boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent-line removal (operators/lines.py): line md5 keys
    on the wire, frequent set broadcast, map-only anti join."""
    from gush_spark.functions.text_analysis import words_of
    from gush_spark.operators.lines import remove_frequent_lines

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    ws = words_of(F.col("text"))
    # bind the words array so the chunk lambda references the BOUND
    # array, not the words expression — Catalyst doesn't CSE into
    # lambda bodies (same trap as dedup.shingles / repetition_scores)
    chunks = F.get(
        F.transform(
            F.array(ws),
            lambda w: F.transform(
                F.sequence(F.lit(1), F.ceil(F.size(w) / 8.0).cast("int")),
                lambda i: F.concat_ws(" ", F.slice(w, (i - 1) * 8 + 1, 8)),
            ),
        ),
        0,
    )
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.when(F.col("doc_id") % 4 == 0, F.array(F.lit(_BANNER_A))).otherwise(empty),
        chunks,
        F.when(F.col("doc_id") % 6 == 0, F.array(F.lit(_BANNER_B))).otherwise(empty),
    )
    ldocs = docs.select("doc_id", lines.alias("lines"))
    return remove_frequent_lines(ldocs, "doc_id", "lines", min_docs=10)


@query(
    "sequence_packing",
    oracle=f"""
    WITH {BASE}, {WORDS},
    sized AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                     md5(CAST(doc_id AS VARCHAR)) AS ok,
                     ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 8 AS bucket
              FROM w),
    laid AS (SELECT doc_id, n_tokens, bucket,
                    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY ok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tokens AS start
             FROM sized)
    SELECT doc_id, n_tokens, bucket,
           bucket * {1 << 40} + CAST(floor(start / 512) AS BIGINT) AS seq_id,
           CAST(start % 512 AS BIGINT) AS seq_offset,
           CAST(start % 512 AS BIGINT) + n_tokens > 512 AS split
    FROM laid
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/packing.py): docs
    hashed into 8 independent buckets, ONE window cumsum per bucket, no
    global sort; budget 512 tokens."""
    from gush_spark.functions.text_analysis import words_of
    from gush_spark.operators.packing import pack_sequences

    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(words_of(F.col("text"))).cast("long").alias("n_tokens")
    )
    return pack_sequences(sized, "doc_id", "n_tokens", budget=512, buckets=8)


@query(
    "domain_reputation",
    oracle=f"""
    WITH base AS (SELECT doc_id, source, {NORM} AS norm FROM documents),
    w AS (SELECT doc_id, source, norm, string_split(norm, ' ') AS ws FROM base),
    feats AS (SELECT doc_id, source, {QUALITY_RATIOS} FROM w),
    quality AS (SELECT doc_id, source, {QUALITY_SCORE} AS doc_quality FROM feats),
    stats AS (SELECT source,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(CAST(doc_quality AS DECIMAL(38,9))) AS DOUBLE)
                       / count(*) AS domain_quality
              FROM quality GROUP BY 1)
    SELECT q.doc_id, q.source, q.doc_quality,
           s.domain_quality, s.n_docs,
           s.domain_quality < 0.59 AS domain_flagged
    FROM quality q JOIN stats s ON q.source = s.source
    """,
)
def q_domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain reputation gate (operators/domains.py): per-source mean
    quality in one map-side-combinable agg, broadcast back; docs from
    domains averaging below 0.59 are flagged."""
    from gush_spark.operators.domains import domain_reputation_gate

    docs = load(spark, sf_dir, "documents")
    # bind norm/ws once (quality_features docstring contract): the gate
    # scans `scored` twice (domain agg + probe side) and the composite
    # score references the words array in four ratios — unbound, the
    # lower→regexp_replace→split chain would re-evaluate per reference
    # per scan (measured 5.2 s vs 0.49 s for the single-scan twin)
    base = docs.withColumn("_norm", ta.norm_text(F.col("text"))).withColumn(
        "_ws", F.split(F.col("_norm"), " ")
    )
    feats = ta.quality_features(
        F.col("text"), norm=F.col("_norm"), ws=F.col("_ws")
    )
    scored = base.select("doc_id", "source", feats["quality_score"].alias("q"))
    return domain_reputation_gate(
        scored, "doc_id", "source", "q", min_quality=0.59
    )


# deterministic messy-URL injection, same expression both engines: the
# corpus has no url column, so one is synthesized with mixed case,
# www/port noise, tracking params, unsorted params, fragments and the
# occasional schemeless garbage row
_URL_SQL = """urls AS (
      SELECT doc_id,
        CASE WHEN doc_id % 11 = 0 THEN 'not a url at all?b=2&utm_source=x#frag'
        ELSE
          (CASE WHEN doc_id % 5 = 0 THEN 'HTTP' ELSE 'HTTPS' END)
          || '://WWW.Src' || (doc_id % 20) || '.Example.COM'
          || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
          || (CASE WHEN doc_id % 9 = 0 THEN '/' ELSE '/Path/' || doc_id END)
          || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1'
                   WHEN doc_id % 3 = 1 THEN '?z=9&utm_campaign=x&gclid=abc'
                   ELSE '' END)
          || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
        END AS url
      FROM documents)"""


@query(
    "curriculum_order",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             AS rank,
           CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1) * 3
                // count(*) OVER () AS BIGINT) AS phase
    FROM documents
    """,
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-to-long length curriculum (operators/curriculum.py): the
    exact global training order (n_chars asc, doc_id asc) WITHOUT a
    global sort — value-range bucket map-only, per-bucket row_number,
    cumulative offsets over the ≤64-row bucket frame broadcast back;
    equals the oracle's single-sort row_number row for row. phase =
    exact BIGINT tertile of the rank."""
    from gush_spark.operators.curriculum import curriculum_order

    return curriculum_order(load(spark, sf_dir, "documents"))


@query(
    "robots_rules_gate",
    oracle="WITH " + _URL_SQL + r"""
    , rules AS (
      SELECT 'src' || CAST(k AS VARCHAR) || '.example.com' AS host,
             r.prefix, r.allow
      FROM generate_series(0, 19) t(k),
           (VALUES ('/', TRUE), ('/Path/1', FALSE), ('/Path/12', TRUE))
             r(prefix, allow)
    ), parsed AS (
      SELECT doc_id,
        CASE WHEN h1 = '' THEN NULL ELSE h1 END AS host,
        CASE WHEN h1 = '' THEN NULL
             WHEN p0 = '' THEN '/' ELSE p0 END AS path
      FROM (
        SELECT doc_id,
          regexp_replace(regexp_replace(
            lower(regexp_extract(trim(url),
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)),
            '^www\.', ''), ':\d+$', '') AS h1,
          regexp_replace(regexp_replace(trim(url),
            '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', ''),
            '[?#].*$', '') AS p0
        FROM urls)
    ), m AS (
      SELECT p.doc_id, p.host, p.path, r.prefix, r.allow,
             CAST(length(r.prefix) AS BIGINT) AS plen
      FROM parsed p LEFT JOIN rules r
        ON p.host = r.host AND starts_with(p.path, r.prefix)
    ), best AS (
      SELECT doc_id, host, path, prefix, allow FROM m
      QUALIFY row_number() OVER (PARTITION BY doc_id
        ORDER BY CASE WHEN prefix IS NULL THEN 1 ELSE 0 END,
                 plen DESC, CASE WHEN allow THEN 0 ELSE 1 END) = 1
    )
    SELECT doc_id, host, path, prefix AS matched_prefix,
           coalesce(allow, TRUE) AS allowed
    FROM best
    """,
)
def q_robots_rules_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots matching over the messy-URL corpus
    (operators/robots.py): per-host rule table (allow /, disallow
    /Path/1, allow /Path/12 — the longest-match + allow-wins-ties
    semantics all three exercise) broadcast against the parsed
    (host, path) frame, folded by one id-keyed argmin-struct agg;
    garbage URLs default-allow with null host. Rules broadcast, raw
    URLs never shuffle; no row_number window on the Spark side."""
    from gush_spark.operators.robots import robots_gate, url_host_path

    docs = load(spark, sf_dir, "documents")
    hp = url_host_path(_messy_url())
    urls = docs.select("doc_id", hp["host"].alias("host"), hp["path"].alias("path"))
    hosts = spark.range(20).select(
        F.concat(F.lit("src"), F.col("id").cast("string"), F.lit(".example.com"))
        .alias("host")
    )
    tmpl = spark.createDataFrame(
        [("/", True), ("/Path/1", False), ("/Path/12", True)],
        "prefix string, allow boolean",
    )
    rules = hosts.crossJoin(tmpl)
    return robots_gate(urls, rules)


def _messy_url() -> F.Column:
    """The deterministic messy-URL injection, Spark twin of _URL_SQL —
    ONE definition shared by url_canonicalize and url_dedup_groups so
    the two queries (and the SQL fragment) cannot drift apart."""
    k = F.col("doc_id") % 20
    return F.when(
        F.col("doc_id") % 11 == 0,
        F.lit("not a url at all?b=2&utm_source=x#frag"),
    ).otherwise(
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.lit("HTTP")).otherwise(F.lit("HTTPS")),
            F.lit("://WWW.Src"), k.cast("string"), F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 9 == 0, F.lit("/")).otherwise(
                F.concat(F.lit("/Path/"), F.col("doc_id").cast("string"))
            ),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed&b=2&a=1"))
            .when(F.col("doc_id") % 3 == 1, F.lit("?z=9&utm_campaign=x&gclid=abc"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
        )
    )


@query(
    "url_canonicalize",
    oracle="WITH " + _URL_SQL + r"""
    , parts AS (
      SELECT doc_id, trim(url) AS u,
        lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 1)) AS scheme,
        lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)) AS host0
      FROM urls),
    hp AS (
      SELECT doc_id, scheme, host0, u,
        regexp_replace(host0, '^www\.', '') AS hostport
      FROM parts),
    cleaned AS (
      SELECT doc_id, scheme, host0,
        regexp_replace(hostport, ':\d+$', '') AS host,
        CASE WHEN regexp_extract(hostport, ':(\d+)$', 1) = '' THEN host
             WHEN (scheme = 'http' AND regexp_extract(hostport, ':(\d+)$', 1) = '80')
               OR (scheme = 'https' AND regexp_extract(hostport, ':(\d+)$', 1) = '443')
             THEN host
             ELSE host || ':' || regexp_extract(hostport, ':(\d+)$', 1) END
          AS canonical_host,
        regexp_replace(regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '#.*$', '') AS rest
      FROM hp),
    split_q AS (
      SELECT doc_id, scheme, host0, host, canonical_host,
        CASE WHEN regexp_extract(rest, '^[^?]*') = '/' THEN ''
             ELSE regexp_extract(rest, '^[^?]*') END AS path,
        list_sort(list_filter(
          string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
          p -> p != '' AND NOT regexp_matches(p, '^(utm_\w+|fbclid|gclid|msclkid)=')
        )) AS params
      FROM cleaned),
    built AS (
      SELECT doc_id, host0, host, canonical_host,
        path || CASE WHEN len(params) > 0
                     THEN '?' || array_to_string(params, '&') ELSE '' END AS tail,
        scheme, CAST(len(params) AS BIGINT) AS n_params
      FROM split_q)
    SELECT doc_id,
           CASE WHEN host != '' THEN scheme || '://' || canonical_host || tail
                ELSE tail END AS canonical_url,
           CASE WHEN host != '' THEN host END AS host,
           CASE WHEN host != '' THEN regexp_extract(host, '[^.]+\.[^.]+$')
           END AS registered_domain,
           n_params
    FROM built
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/urls.py): scheme/host lowering,
    www/default-port/fragment/tracking-param stripping, sorted params —
    all per-row codegen expressions, zero shuffles."""
    from gush_spark.operators.urls import canonicalize_url

    docs = load(spark, sf_dir, "documents")
    url = _messy_url()
    cols = canonicalize_url(url)
    return docs.select(
        "doc_id",
        cols["canonical_url"].alias("canonical_url"),
        cols["host"].alias("host"),
        cols["registered_domain"].alias("registered_domain"),
        cols["n_params"].alias("n_params"),
    )


@query(
    "trending_terms",
    oracle=f"""
    WITH {BASE}, {WORDS},
    tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
    counted AS (
      SELECT CAST(floor((1700000000 + doc_id * 60) / 3600) * 3600 AS BIGINT)
               AS window_start_s,
             term, CAST(count(*) AS BIGINT) AS n
      FROM tok WHERE term != '' GROUP BY 1, 2),
    ranked AS (
      SELECT window_start_s, term, n,
             CAST(row_number() OVER (
               PARTITION BY window_start_s ORDER BY n DESC, term
             ) AS BIGINT) AS rnk
      FROM counted)
    SELECT window_start_s, term, n, rnk FROM ranked WHERE rnk <= 5
    """,
)
def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending terms (operators/trending.py): windowed token counts
    with md5 term keys on the wire, top-5 per window via the
    WindowGroupLimit rank filter. Documents get a deterministic
    synthetic timestamp (one per minute) — the corpus carries none."""
    from gush_spark.operators.trending import top_terms_per_window, windowed_term_counts

    docs = load(spark, sf_dir, "documents").withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 60)
    )
    counts = windowed_term_counts(
        docs, ts_col="ts", text_col="text", window_duration="1 hour"
    )
    return top_terms_per_window(counts, 5).select(
        F.col("window_start").cast("timestamp").cast("long").alias("window_start_s"),
        "term",
        "n",
        "rnk",
    )


@query(
    "quality_decile_assignment",
    oracle=f"""
    WITH {BASE}, {WORDS},
    feats AS (SELECT doc_id, {QUALITY_RATIOS} FROM w),
    quality AS (SELECT doc_id, {QUALITY_SCORE} AS quality_score FROM feats),
    bounds AS (SELECT list_transform(
                 quantile_cont(quality_score,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                 b -> round(b, 9)) AS bs
               FROM quality)
    SELECT q.doc_id, q.quality_score,
           CAST(1 + len(list_filter(b.bs, x -> q.quality_score > x)) AS BIGINT)
             AS decile
    FROM quality q, bounds b
    """,
)
def q_quality_decile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality binning: decile boundaries from ONE
    exact-percentile aggregation (partial-combinable), broadcast back
    as a 1-row frame, decile assigned map-only — the standard
    'keep the top-X% of the corpus' curation knob, content-stable
    (a doc's decile depends on the corpus, not the engine).

    Boundaries are rounded to 9 decimals on BOTH engines before the
    comparison so a 1-ulp interpolation difference can't flip a doc
    sitting exactly on a boundary."""
    docs = load(spark, sf_dir, "documents")
    feats = ta.quality_features(F.col("text"))
    scored = docs.select("doc_id", feats["quality_score"].alias("quality_score"))
    qs = [i / 10 for i in range(1, 10)]
    bounds = scored.agg(
        F.transform(
            F.percentile(F.col("quality_score"), F.array(*[F.lit(q) for q in qs])),
            lambda b: F.round(b, 9),
        ).alias("bs")
    )
    return (
        scored.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            "quality_score",
            (
                1
                + F.size(
                    F.filter(F.col("bs"), lambda x: F.col("quality_score") > x)
                )
            ).cast("long").alias("decile"),
        )
    )


@query(
    "url_dedup_groups",
    oracle="WITH " + _URL_SQL + r"""
    , parts AS (
      SELECT doc_id, trim(url) AS u,
        lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 1)) AS scheme,
        lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)) AS host0
      FROM urls),
    hp AS (SELECT doc_id, scheme, host0, u,
                  regexp_replace(host0, '^www\.', '') AS hostport FROM parts),
    cleaned AS (
      SELECT doc_id, scheme, host0,
        regexp_replace(hostport, ':\d+$', '') AS host,
        CASE WHEN regexp_extract(hostport, ':(\d+)$', 1) = '' THEN host
             WHEN (scheme = 'http' AND regexp_extract(hostport, ':(\d+)$', 1) = '80')
               OR (scheme = 'https' AND regexp_extract(hostport, ':(\d+)$', 1) = '443')
             THEN host
             ELSE host || ':' || regexp_extract(hostport, ':(\d+)$', 1) END
          AS canonical_host,
        regexp_replace(regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '#.*$', '') AS rest
      FROM hp),
    split_q AS (
      SELECT doc_id, scheme, host0, host, canonical_host,
        CASE WHEN regexp_extract(rest, '^[^?]*') = '/' THEN ''
             ELSE regexp_extract(rest, '^[^?]*') END AS path,
        list_sort(list_filter(
          string_split(regexp_extract(rest, '\?(.*)$', 1), '&'),
          p -> p != '' AND NOT regexp_matches(p, '^(utm_\w+|fbclid|gclid|msclkid)=')
        )) AS params
      FROM cleaned),
    canon AS (
      SELECT doc_id,
        CASE WHEN host != '' THEN scheme || '://' || canonical_host ELSE '' END
          || path
          || CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
             ELSE '' END AS canonical_url
      FROM split_q)
    SELECT md5(canonical_url) AS url_key,
           min(doc_id) AS canonical_doc_id,
           CAST(count(*) AS BIGINT) AS n_aliases
    FROM canon GROUP BY 1 HAVING count(*) > 1
    """,
)
def q_url_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup on the canonical key: alias groups (>1 doc
    folding to one canonical URL), lowest doc id wins. The shuffle key
    is the canonical URL's md5 — same 16-byte discipline as content
    dedup; the injected corpus folds HTTPS?:443 variants and
    tracking-param permutations."""
    from gush_spark.operators.urls import canonicalize_url

    docs = load(spark, sf_dir, "documents")
    # same injected messy URLs as url_canonicalize (_messy_url); alias
    # groups exist because doc_id % 9 == 0 rows share the bare "/" path
    # per host and tracking-param/port/scheme-case variants fold
    url = _messy_url()
    cols = canonicalize_url(url)
    return (
        docs.select("doc_id", F.md5(cols["canonical_url"]).alias("url_key"))
        .groupBy("url_key")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_aliases"),
        )
        .filter(F.col("n_aliases") > 1)
    )


@query(
    "mixture_resample",
    oracle="""
    WITH sized AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
    weighted AS (
      SELECT s.lang, s.n,
             CAST(round(CASE s.lang WHEN 'en' THEN 0.40 WHEN 'zh' THEN 0.25
                                    WHEN 'de' THEN 0.20 WHEN 'fr' THEN 0.15
                        END * 1000) AS BIGINT) AS t
      FROM sized s WHERE s.lang IN ('en', 'zh', 'de', 'fr')),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
      FROM documents),
    assigned AS (
      SELECT rk.doc_id, rk.lang,
             CAST(w.t // w.n + CASE WHEN rk.r <= w.t % w.n THEN 1 ELSE 0 END
                  AS BIGINT) AS n_copies
      FROM ranked rk JOIN weighted w ON rk.lang = w.lang)
    SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS BIGINT)
             AS copy, n_copies
    FROM assigned WHERE n_copies > 0
    """,
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction (operators/mixture.py): resample
    to 40/25/20/15 en/zh/de/fr over 1000 rows — 'es' is weightless and
    dropped; under-weight langs upsample by deterministic repetition,
    over-weight ones downsample by md5 rank."""
    from gush_spark.operators.mixture import mixture_resample

    docs = load(spark, sf_dir, "documents")
    return mixture_resample(
        docs, "doc_id", "lang",
        {"en": 0.40, "zh": 0.25, "de": 0.20, "fr": 0.15},
        total=1000,
    )


# shared PII-injection expression (Spark side) for pii_scrub_report and
# the v2 curation composite
def _inject_pii(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-867-5309")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@query(
    "curation_report_v2",
    oracle="WITH " + _INJ_SQL + f"""
    , s1 AS (SELECT doc_id,
               CAST(len(regexp_extract_all(t0, '{_EMAIL_PAT}')) AS BIGINT) AS n_email,
               regexp_replace(t0, '{_EMAIL_PAT}', '<EMAIL>', 'g') AS t1
             FROM injected),
    s2 AS (SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t1, '{_PHONE_PAT}')) AS BIGINT) AS n_phone,
             regexp_replace(t1, '{_PHONE_PAT}', '<PHONE>', 'g') AS t2
           FROM s1),
    s3 AS (SELECT doc_id, n_email + n_phone
             + CAST(len(regexp_extract_all(t2, '{_IPV4_PAT}')) AS BIGINT) AS n_pii,
             regexp_replace(t2, '{_IPV4_PAT}', '<IP>', 'g') AS clean_text
           FROM s2),
    base2 AS (SELECT doc_id, n_pii,
                     trim(regexp_replace(lower(clean_text), '\\s+', ' ', 'g')) AS norm
              FROM s3),
    w2 AS (SELECT doc_id, n_pii, norm, string_split(norm, ' ') AS ws FROM base2),
    -- repetition (top-token fraction only) over the SCRUBBED text
    uni AS (SELECT doc_id, len(ws) AS n_tokens, unnest(ws) AS g FROM w2),
    ucnt AS (SELECT doc_id, n_tokens, md5(g) AS gk, count(*) AS c
             FROM uni GROUP BY 1, 2, 3),
    rep AS (SELECT doc_id, max(c)::DOUBLE / n_tokens AS top_token_frac
            FROM ucnt GROUP BY doc_id, n_tokens),
    -- benchmark decontamination over the scrubbed text
    sh2 AS (SELECT doc_id, unnest({SHINGLE_LIST}) AS s FROM w2 WHERE len(ws) >= 3),
    dsh AS (SELECT doc_id, md5(s) AS sk FROM sh2),
    bkeys AS (SELECT DISTINCT sk FROM dsh WHERE doc_id % 50 = 0),
    per AS (SELECT d.doc_id, count(*) AS n_sh, count(b.sk) AS n_hit
            FROM dsh d LEFT JOIN bkeys b ON d.sk = b.sk GROUP BY 1),
    dec AS (SELECT i.doc_id, coalesce(p.n_hit / p.n_sh, 0.0) AS overlap
            FROM (SELECT doc_id FROM documents) i
            LEFT JOIN per p ON i.doc_id = p.doc_id),
    -- quality over the scrubbed text
    feats AS (SELECT doc_id, n_pii, {QUALITY_RATIOS} FROM w2),
    quality AS (SELECT doc_id, n_pii, {QUALITY_SCORE} AS quality_score FROM feats),
    report AS (
      SELECT q.doc_id, q.n_pii, r.top_token_frac, d.overlap, q.quality_score,
             CASE WHEN d.overlap >= 0.5 THEN 'contaminated'
                  WHEN q.n_pii >= 2 THEN 'pii'
                  WHEN r.top_token_frac > 0.15 THEN 'repetitive'
                  WHEN q.quality_score < 0.5 THEN 'low_quality'
             END AS reject_reason
      FROM quality q
      JOIN rep r ON q.doc_id = r.doc_id
      JOIN dec d ON q.doc_id = d.doc_id)
    SELECT doc_id, n_pii, top_token_frac, overlap, quality_score,
           reject_reason, reject_reason IS NULL AS is_kept
    FROM report
    """,
)
def q_curation_report_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 curation passes composed into one per-doc report:
    PII scrub → repetition → benchmark decontamination → quality, with
    a first-failing-gate reject_reason ('contaminated' > 'pii' >
    'repetitive' > 'low_quality') and an is_kept verdict. Every stage
    keys on doc_id (8-byte joins); the benchmark side broadcasts; the
    scrub/quality stages are pure projections."""
    from gush_spark.operators.decontaminate import ngram_overlap
    from gush_spark.operators.repetition import repetition_scores
    from gush_spark.operators.scrub import scrub_pii

    docs = load(spark, sf_dir, "documents")
    scrubbed = scrub_pii(_inject_pii(docs), "doc_id", "text").select(
        "doc_id", F.col("clean_text").alias("text"), "n_pii"
    )
    rep = repetition_scores(scrubbed, "doc_id", "text", spread=None).select(
        "doc_id", "top_token_frac"
    )
    bench = scrubbed.filter(F.col("doc_id") % 50 == 0)
    dec = ngram_overlap(scrubbed, bench, "doc_id", "text").select(
        "doc_id", "overlap"
    )
    feats = ta.quality_features(F.col("text"))
    quality = scrubbed.select(
        "doc_id", "n_pii", feats["quality_score"].alias("quality_score")
    )
    reason = (
        F.when(F.col("overlap") >= 0.5, "contaminated")
        .when(F.col("n_pii") >= 2, "pii")
        .when(F.col("top_token_frac") > 0.15, "repetitive")
        .when(F.col("quality_score") < 0.5, "low_quality")
    )
    return (
        quality.join(rep, on="doc_id")
        .join(dec, on="doc_id")
        .select(
            "doc_id", "n_pii", "top_token_frac", "overlap", "quality_score",
            reason.alias("reject_reason"),
        )
        .withColumn("is_kept", F.col("reject_reason").isNull())
    )


@query(
    "packed_training_sequences",
    oracle=f"""
    WITH {BASE}, {WORDS},
    sized AS (SELECT doc_id, norm, CAST(len(ws) AS BIGINT) AS n_tokens,
                     md5(CAST(doc_id AS VARCHAR)) AS ok,
                     ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 8 AS bucket
              FROM w),
    laid AS (SELECT doc_id, norm, n_tokens, bucket,
                    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY ok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tokens AS start
             FROM sized)
    SELECT bucket * {1 << 40} + CAST(floor(start / 512) AS BIGINT) AS seq_id,
           string_agg(norm, '<|eos|>' ORDER BY CAST(start % 512 AS BIGINT), norm)
             AS sequence_text,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM laid GROUP BY 1
    """,
)
def q_packed_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical training rows from the packing assignment
    (operators/packing.materialize_sequences): one row per sequence,
    normalized doc texts concatenated in layout order with an eos
    separator — the one unavoidable text exchange, keyed by seq_id."""
    from gush_spark.functions.text_analysis import norm_text, words_of
    from gush_spark.operators.packing import materialize_sequences, pack_sequences

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        norm_text(F.col("text")).alias("norm"),
        F.size(words_of(F.col("text"))).cast("long").alias("n_tokens"),
    )
    assignment = pack_sequences(docs, "doc_id", "n_tokens", budget=512, buckets=8)
    return materialize_sequences(assignment, docs, "doc_id", "norm")


@query(
    "release_manifest",
    oracle=f"""
    WITH {BASE},
    assigned AS (
      SELECT doc_id, norm,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 16 AS shard
      FROM base)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(length(norm) AS BIGINT)) AS BIGINT) AS n_chars,
           CAST(bit_xor(('0x' || substring(md5(norm), 1, 15))::BIGINT)
                AS BIGINT) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS min_id,
           CAST(max(doc_id) AS BIGINT) AS max_id
    FROM assigned GROUP BY shard
    """,
)
def q_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-release manifest: per-shard row/char counts + an ORDER-FREE
    content checksum (bit_xor of a 60-bit md5 prefix of the normalized
    text — commutative, so the checksum is identical however the shard
    was partitioned, written, or re-read; a downstream consumer
    re-derives it in one pass and a single flipped document flips the
    checksum). Shards are the deterministic md5 id-bucket the exporter
    uses (sources/export.py convention), so the manifest names exactly
    what ships. One map-only projection + one shard-keyed
    map-side-combinable agg — 16 rows out regardless of corpus size."""
    docs = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 16
    )
    norm = ta.norm_text(F.col("text"))
    fp = F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")
    return (
        docs.select(
            shard.alias("shard"),
            norm.alias("_norm"),
            fp.alias("_fp"),
            F.col("doc_id"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("_norm").cast("long")).alias("n_chars"),
            F.expr("bit_xor(_fp)").alias("content_hash"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@query(
    "source_concentration_report",
    oracle="""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM per),
    shares AS (
      SELECT source, n_docs,
             CAST(n_docs * 1000000 // total AS BIGINT) AS share_ppm,
             CAST(row_number() OVER (ORDER BY n_docs DESC, source)
                  AS BIGINT) AS rank
      FROM per, tot),
    final AS (
      SELECT source, n_docs, share_ppm, rank,
             CAST(sum(share_ppm) OVER (ORDER BY rank
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_share_ppm,
             CAST(sum(share_ppm * share_ppm) OVER () // 1000000
                  AS BIGINT) AS hhi_ppm
      FROM shares)
    SELECT source, n_docs, share_ppm, rank, cum_share_ppm, hhi_ppm
    FROM final
    """,
)
def q_source_concentration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-diversity card: per-source doc share (exact ppm), size
    rank, cumulative share down the rank, and the corpus
    Herfindahl-Hirschman concentration index (Σ share² — the standard
    is-one-source-dominating number, in exact fixed point:
    hhi_ppm = Σ share_ppm² div 10^6, order-free BIGINT). A mixture
    audit reads this next to mixture_resample/token_budget_plan: a
    training corpus with hhi near 10^6 is one source wearing a corpus
    costume. ONE map-side-combinable source agg reduces the corpus;
    every window (rank, cumulative, HHI) runs over the SOURCE-level
    frame — dozens of rows, never documents."""
    per = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = per.agg(F.sum("n_docs").alias("total"))
    shares = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("n_docs * 1000000 div total").alias("share_ppm"),
        F.row_number()
        .over(Window.orderBy(F.desc("n_docs"), "source"))
        .cast("long")
        .alias("rank"),
    )
    return shares.select(
        "source",
        "n_docs",
        "share_ppm",
        "rank",
        F.sum("share_ppm")
        .over(Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_share_ppm"),
        F.expr("sum(share_ppm * share_ppm) over () div 1000000").alias(
            "hhi_ppm"
        ),
    )


@query(
    "corpus_stats_report",
    oracle=f"""
    WITH {BASE}, {WORDS},
    per_doc AS (
      SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
             md5(norm) AS fp
      FROM w)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_tokens) AS DOUBLE) / count(*) AS mean_tokens,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_texts,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM per_doc
    """,
)
def q_corpus_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus size, token totals, exact-dup rate
    — the summary every pipeline run logs. ONE pass: every aggregate is
    map-side-combinable except the distinct-fingerprint count, which
    shuffles 16-byte md5s (never text)."""
    from gush_spark.functions.text_analysis import md5_fingerprint, words_of

    docs = load(spark, sf_dir, "documents")
    per = docs.select(
        F.size(words_of(F.col("text"))).cast("long").alias("n_tokens"),
        md5_fingerprint(F.col("text")).alias("fp"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("mean_tokens"),
        F.count_distinct(F.col("fp")).alias("n_distinct_texts"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("fp"))).alias("n_exact_dups"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


@query(
    "script_profile_report",
    oracle="""
    WITH injected AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 6 = 0 THEN ' Привет мир' ELSE '' END
        || CASE WHEN doc_id % 8 = 0 THEN ' 你好世界' ELSE '' END
        AS t FROM documents),
    counted AS (
      SELECT doc_id,
             CAST(length(t) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(t, '[A-Za-zÀ-ɏ]')) AS BIGINT) AS n_latin,
             CAST(len(regexp_extract_all(t, '[Ѐ-ӿ]')) AS BIGINT) AS n_cyrillic,
             CAST(len(regexp_extract_all(t, '[一-鿿぀-ヿ가-힯]')) AS BIGINT) AS n_cjk,
             CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT) AS n_digit
      FROM injected)
    SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_digit,
           CASE WHEN n_chars > 0 THEN CAST(n_latin AS DOUBLE) / n_chars
                ELSE 0.0 END AS latin_frac,
           CASE WHEN n_chars > 0 THEN CAST(n_cyrillic AS DOUBLE) / n_chars
                ELSE 0.0 END AS cyrillic_frac,
           (CASE WHEN n_chars > 0 THEN CAST(n_latin AS DOUBLE) / n_chars
                 ELSE 0.0 END) > 0.5
           AND (CASE WHEN n_chars > 0 THEN CAST(n_cyrillic AS DOUBLE) / n_chars
                     ELSE 0.0 END
              + CASE WHEN n_chars > 0 THEN CAST(n_cjk AS DOUBLE) / n_chars
                     ELSE 0.0 END) > 0.02 AS mixed_script
    FROM counted
    """,
)
def q_script_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script/charset profile (operators/scripts.py): per-doc Latin/
    Cyrillic/CJK/digit counts + mixed-script homoglyph flag; pure JVM
    regexp counts, zero shuffles. Foreign-script runs are injected
    deterministically (the corpus is ASCII) so every counter and the
    flag fire."""
    from gush_spark.operators.scripts import mixed_script_flag, script_profile

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 6 == 0, F.lit(" Привет мир")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 8 == 0, F.lit(" 你好世界")).otherwise(F.lit("")),
        ).alias("t"),
    )
    p = script_profile(F.col("t"))
    return docs.select(
        "doc_id",
        p["n_chars"].alias("n_chars"),
        p["n_latin"].alias("n_latin"),
        p["n_cyrillic"].alias("n_cyrillic"),
        p["n_cjk"].alias("n_cjk"),
        p["n_digit"].alias("n_digit"),
        p["latin_frac"].alias("latin_frac"),
        p["cyrillic_frac"].alias("cyrillic_frac"),
        mixed_script_flag(p, primary="latin", max_foreign=0.02).alias("mixed_script"),
    )


# NO oracle on purpose: DEFLATE has no SQL expression — this entry
# exercises the driver's weaker rows-only check, with exact-value
# pinning done in pytest (tests/test_export.py) on fixed strings.
@query("compression_ratio_scores", oracle=None)
def q_compression_ratio_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style zlib compression-ratio quality signal
    (functions/text_analysis.compression_ratio_udf): vectorized Arrow
    UDF, map-only — repetitive/templated pages compress low, junk sits
    near 1.0."""
    docs = load(spark, sf_dir, "documents")
    ratio = ta.compression_ratio_udf()
    return docs.select(
        "doc_id", ratio(F.col("text")).alias("compression_ratio")
    )


@query(
    "bloom_membership_report",
    oracle=f"""
    WITH {BASE},
    corpus AS (SELECT md5(norm) AS key FROM base),
    ks AS (SELECT i FROM (VALUES (0), (1), (2)) t(i)),
    built AS (
      SELECT CAST(floor(pos / 63.0) AS BIGINT) AS word_idx,
             (1::BIGINT << CAST(pos % 63 AS INTEGER)) AS bit
      FROM (SELECT ('0x' || substring(md5(c.key || ':' || k.i), 1, 15))::BIGINT
                     % 65536 AS pos
            FROM corpus c CROSS JOIN ks k)),
    bitmap AS (SELECT word_idx, bit_or(bit) AS word FROM built GROUP BY 1),
    probes AS (
      SELECT b.doc_id AS probe_id,
             CASE WHEN b.doc_id % 2 = 0 THEN md5(b.norm)
                  ELSE 'absent:' || b.doc_id END AS key,
             b.doc_id % 2 = 0 AS is_member
      FROM base b),
    probe_bits AS (
      SELECT p.probe_id, p.key, p.is_member,
             CAST(floor(q.pos / 63.0) AS BIGINT) AS word_idx,
             (1::BIGINT << CAST(q.pos % 63 AS INTEGER)) AS mask
      FROM probes p CROSS JOIN ks k
      CROSS JOIN LATERAL (SELECT ('0x' || substring(md5(p.key || ':' || k.i), 1, 15))::BIGINT
                            % 65536 AS pos) q)
    SELECT pb.probe_id, pb.key, pb.is_member,
           bool_and((COALESCE(bm.word, 0) & pb.mask) = pb.mask) AS bloom_contains
    FROM probe_bits pb LEFT JOIN bitmap bm ON pb.word_idx = bm.word_idx
    GROUP BY 1, 2, 3
    """,
)
def q_bloom_membership_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Bloom-filter membership (operators/bloom.py): build a
    65536-bit bitmap over the corpus content fingerprints (one
    bit_or hash agg, ≤1024 rows out regardless of corpus size), then
    probe a mixed member/non-member key set against the BROADCAST
    bitmap — the bits-per-key membership pre-filter that replaces a
    16-bytes-per-key exact broadcast when the reference set is the
    10^12-key corpus index itself. False negatives are impossible
    (every member probe must come back true — the oracle pins the
    exact per-key bits, not just the property)."""
    from gush_spark.operators.bloom import bloom_build, bloom_probe

    docs = load(spark, sf_dir, "documents")
    key = ta.md5_fingerprint(F.col("text"))
    corpus = docs.select(key.alias("key"))
    bitmap = bloom_build(corpus, "key")
    probes = docs.select(
        F.col("doc_id").alias("probe_id"),
        F.when(F.col("doc_id") % 2 == 0, key)
        .otherwise(F.concat(F.lit("absent:"), F.col("doc_id").cast("string")))
        .alias("key"),
        (F.col("doc_id") % 2 == 0).alias("is_member"),
    )
    out = bloom_probe(bitmap, probes, "key")
    return out.select("probe_id", "key", "is_member", "bloom_contains")


@query(
    "decontaminate_overlap_bloom",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES},
    dsh AS (SELECT doc_id, md5(s) AS sk FROM sh),
    bench AS (SELECT DISTINCT sk FROM dsh WHERE doc_id % 50 = 0),
    ks AS (SELECT i FROM (VALUES (0), (1), (2)) t(i)),
    built AS (
      SELECT CAST(floor(pos / 63.0) AS BIGINT) AS word_idx,
             (1::BIGINT << CAST(pos % 63 AS INTEGER)) AS bit
      FROM (SELECT ('0x' || substring(md5(b.sk || ':' || k.i), 1, 15))::BIGINT
                     % 65536 AS pos
            FROM bench b CROSS JOIN ks k)),
    bitmap AS (SELECT word_idx, bit_or(bit) AS word FROM built GROUP BY 1),
    dk AS (SELECT DISTINCT sk FROM dsh),
    probe_bits AS (
      SELECT d.sk,
             CAST(floor(q.pos / 63.0) AS BIGINT) AS word_idx,
             (1::BIGINT << CAST(q.pos % 63 AS INTEGER)) AS mask
      FROM dk d CROSS JOIN ks k
      CROSS JOIN LATERAL (SELECT ('0x' || substring(md5(d.sk || ':' || k.i), 1, 15))::BIGINT
                            % 65536 AS pos) q),
    probed AS (
      SELECT pb.sk,
             bool_and((COALESCE(bm.word, 0) & pb.mask) = pb.mask) AS hit
      FROM probe_bits pb LEFT JOIN bitmap bm ON pb.word_idx = bm.word_idx
      GROUP BY 1),
    per AS (SELECT d.doc_id,
                   CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(sum(CASE WHEN p.hit THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_matched
            FROM dsh d JOIN probed p ON d.sk = p.sk GROUP BY 1),
    scored AS (SELECT i.doc_id,
                      coalesce(p.n_shingles, 0) AS n_shingles,
                      coalesce(p.n_matched, 0) AS n_matched,
                      coalesce(p.n_matched / p.n_shingles, 0.0) AS overlap
               FROM (SELECT doc_id FROM documents) i
               LEFT JOIN per p ON i.doc_id = p.doc_id)
    SELECT doc_id, n_shingles, n_matched, overlap,
           overlap >= 0.5 AS contaminated
    FROM scored
    """,
)
def q_decontaminate_overlap_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-served decontamination (operators/decontaminate.py
    ngram_overlap_bloom): same gate as decontaminate_overlap but the
    benchmark membership test runs against a broadcast Bloom bitmap —
    bits-per-key instead of 16 bytes-per-key, the form that still
    broadcasts when the reference set is the 10^12-key corpus index.
    The oracle replicates the exact bitmap bits, so any false positives
    are IDENTICAL on both engines (deterministic, hash-pinned), and a
    pytest pins n_matched >= the exact operator's per doc."""
    from gush_spark.operators.decontaminate import (
        benchmark_bloom_bitmap,
        ngram_overlap_bloom,
    )

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    bitmap = benchmark_bloom_bitmap(bench, "text")
    return ngram_overlap_bloom(docs, bitmap, "doc_id", "text", threshold=0.5)


@query(
    "document_chunks",
    oracle=f"""
    WITH {BASE}, {WORDS},
    sized AS (SELECT doc_id, ws, len(ws) AS n FROM w),
    ex AS (
      SELECT s.doc_id, s.ws, g.ci
      FROM sized s CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0,
          CAST(CASE WHEN s.n <= 128 THEN 0
               ELSE floor((s.n - 128 + 95) / 96) END AS BIGINT))) AS ci) g)
    SELECT doc_id,
           ci AS chunk_id,
           ci * 96 AS start_token,
           CAST(len(list_slice(ws, ci * 96 + 1, ci * 96 + 128)) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(list_slice(ws, ci * 96 + 1, ci * 96 + 128), ' ')
             AS chunk_text
    FROM ex
    """,
)
def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/chunking.py):
    128-token windows at stride 96 (32-token overlap) — the
    embedding/long-context window-prep pass, map-only with zero
    shuffle (chunk indices explode from a per-row sequence; each chunk
    is a slice of the bound-once words array)."""
    from gush_spark.operators.chunking import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=128, stride=96)


@query(
    "minhash_estimate_pairs",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS}, {CAND}
    SELECT id_a, id_b,
           CAST(CAST(x.mh0 = y.mh0 AS INTEGER) + CAST(x.mh1 = y.mh1 AS INTEGER) + CAST(x.mh2 = y.mh2 AS INTEGER) + CAST(x.mh3 = y.mh3 AS INTEGER) + CAST(x.mh4 = y.mh4 AS INTEGER) + CAST(x.mh5 = y.mh5 AS INTEGER) + CAST(x.mh6 = y.mh6 AS INTEGER) + CAST(x.mh7 = y.mh7 AS INTEGER) + CAST(x.mh8 = y.mh8 AS INTEGER) + CAST(x.mh9 = y.mh9 AS INTEGER) + CAST(x.mh10 = y.mh10 AS INTEGER) + CAST(x.mh11 = y.mh11 AS INTEGER) + CAST(x.mh12 = y.mh12 AS INTEGER) + CAST(x.mh13 = y.mh13 AS INTEGER) + CAST(x.mh14 = y.mh14 AS INTEGER) + CAST(x.mh15 = y.mh15 AS INTEGER)
                AS DOUBLE) / 16 AS est_jaccard
    FROM cand JOIN sigs x ON x.doc_id = id_a JOIN sigs y ON y.doc_id = id_b
    """,
)
def q_minhash_estimate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only near-dup verify (dedup.minhash_estimate_pairs):
    Jaccard estimated from matching MinHash components over the LSH
    candidates — only k longs per doc cross the verify join, never the
    shingle arrays; the 10^12-doc scoring tier with exact verify kept
    for final adjudication."""
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_estimate_pairs(docs, "doc_id", "text", spread=None)


@query(
    "incremental_near_dup_estimate",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS},
    cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
             FROM bands n JOIN bands c ON n.band = c.band AND n.sig = c.sig
             WHERE n.{_NEWPRED} AND c.{_CORPRED})
    SELECT new_id, corpus_id,
           CAST(CAST(x.mh0 = y.mh0 AS INTEGER) + CAST(x.mh1 = y.mh1 AS INTEGER) + CAST(x.mh2 = y.mh2 AS INTEGER) + CAST(x.mh3 = y.mh3 AS INTEGER) + CAST(x.mh4 = y.mh4 AS INTEGER) + CAST(x.mh5 = y.mh5 AS INTEGER) + CAST(x.mh6 = y.mh6 AS INTEGER) + CAST(x.mh7 = y.mh7 AS INTEGER) + CAST(x.mh8 = y.mh8 AS INTEGER) + CAST(x.mh9 = y.mh9 AS INTEGER) + CAST(x.mh10 = y.mh10 AS INTEGER) + CAST(x.mh11 = y.mh11 AS INTEGER) + CAST(x.mh12 = y.mh12 AS INTEGER) + CAST(x.mh13 = y.mh13 AS INTEGER) + CAST(x.mh14 = y.mh14 AS INTEGER) + CAST(x.mh15 = y.mh15 AS INTEGER)
                AS DOUBLE) / 16 AS est_jaccard
    FROM cand JOIN sigs x ON x.doc_id = new_id JOIN sigs y ON y.doc_id = corpus_id
    """,
)
def q_incremental_near_dup_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only batch-vs-corpus near-dup
    (incremental.incremental_near_dup_estimate): candidates from the
    corpus band index, verify from the stored k-long signature table —
    the daily increment touches zero corpus text."""
    from gush_spark.operators import incremental

    new, corpus = _split_docs(spark, sf_dir)
    return incremental.incremental_near_dup_estimate(
        new, corpus, "doc_id", "text", threshold=0.0, spread=None
    )


@query(
    "duplicate_span_report",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS wkey
      FROM t, LATERAL (SELECT unnest(range(1, len(w) - 6, 1)) AS i) r
      WHERE len(w) >= 8
    ),
    d AS (SELECT wkey, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY wkey),
    p AS (
      SELECT g.doc_id,
             CAST(count(*) AS BIGINT) AS n_windows,
             CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_windows
      FROM g JOIN d USING (wkey) GROUP BY g.doc_id
    )
    SELECT doc.doc_id,
           CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CASE WHEN COALESCE(p.n_windows, 0) > 0
                THEN CAST(p.n_dup_windows AS DOUBLE) / p.n_windows
                ELSE 0.0 END AS dup_fraction
    FROM documents doc LEFT JOIN p USING (doc_id)
    """,
)
def q_duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span profile (operators/spans.py,
    Lee et al. ACL 2022 re-expressed as windowed rolling-hash): the
    fraction of each doc's 8-token windows that recur verbatim in
    other documents — the exact-substring dedup signal that
    document-level near-dup cannot see. Shuffles carry only (16-byte
    digest, doc_id) pairs; the digest join reuses the count stage's
    exchange (plan-audit pinned)."""
    from gush_spark.operators.spans import duplicate_spans

    docs = load(spark, sf_dir, "documents")
    return duplicate_spans(docs, "doc_id", "text", window_tokens=8, stride=1)


@query(
    "winnowed_dup_report",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(w) - 6),
                            i -> md5(array_to_string(w[i:i+7], ' '))) AS hs
      FROM t WHERE len(w) >= 8
    ),
    fp AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(hs) - 2),
               j -> list_aggregate(hs[j:j+3], 'min')))) AS wkey
      FROM h WHERE len(hs) >= 4
    ),
    d AS (SELECT wkey, count(DISTINCT doc_id) AS n_docs FROM fp GROUP BY wkey),
    p AS (
      SELECT fp.doc_id,
             CAST(count(*) AS BIGINT) AS n_fingerprints,
             CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_fingerprints
      FROM fp JOIN d USING (wkey) GROUP BY fp.doc_id
    )
    SELECT doc.doc_id,
           CAST(COALESCE(p.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
           CAST(COALESCE(p.n_dup_fingerprints, 0) AS BIGINT)
             AS n_dup_fingerprints,
           CASE WHEN COALESCE(p.n_fingerprints, 0) > 0
                THEN CAST(p.n_dup_fingerprints AS DOUBLE) / p.n_fingerprints
                ELSE 0.0 END AS dup_fraction
    FROM documents doc LEFT JOIN p USING (doc_id)
    """,
)
def q_winnowed_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint duplication profile (operators/spans.py,
    Schleimer et al. SIGMOD 2003): content-defined span fingerprints —
    min of every 4 consecutive 8-gram digests — so copies are caught
    at ANY alignment while exploding ~2/5 the rows of exhaustive
    windows; the crawl-scale tier of duplicate_span_report."""
    from gush_spark.operators.spans import winnowed_duplicate_spans

    docs = load(spark, sf_dir, "documents")
    return winnowed_duplicate_spans(
        docs, "doc_id", "text", window_tokens=8, winnow=4
    )


@query(
    "span_scrubbed_docs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+7], ' ')) AS wkey
      FROM t, LATERAL (SELECT unnest(range(1, len(w) - 6, 1)) AS i) r
      WHERE len(w) >= 8
    ),
    d AS (
      SELECT wkey FROM (
        SELECT wkey, count(DISTINCT doc_id) AS nd FROM g GROUP BY wkey
      ) WHERE nd >= 2
    ),
    s AS (
      SELECT g.doc_id,
             list_distinct(flatten(list_transform(
               list(g.pos), p -> range(p, p + 8)))) AS covered
      FROM g JOIN d USING (wkey) GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CASE WHEN t.w IS NULL THEN NULL
                -- duckdb array_to_string([]) is NULL; spark's is ''
                ELSE COALESCE(array_to_string(
                  list_filter(t.w,
                    (x, i) -> NOT list_contains(
                      COALESCE(s.covered, []), CAST(i AS BIGINT))), ' '), '')
           END AS clean_text,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           CASE WHEN t.w IS NULL THEN NULL
                ELSE CAST(COALESCE(len(s.covered), 0) AS BIGINT)
           END AS n_removed
    FROM t LEFT JOIN s USING (doc_id)
    """,
)
def q_span_scrubbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (operators/spans.py, the action to
    duplicate_span_report's signal, per Lee et al. ACL 2022): every
    token covered by a window shared verbatim with >= 2 documents is
    cut; originals come back whitespace-normalized with removal
    counts. Per-doc covered positions fold to one bounded array; no
    corpus-sized set is ever broadcast."""
    from gush_spark.operators.spans import remove_duplicate_spans

    docs = load(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, "doc_id", "text", window_tokens=8)


@query(
    "grouped_split_sample",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           bucket
    FROM (
      SELECT doc_id, source,
             ('0x' || substring(md5(source), 1, 8))::BIGINT % 100 AS bucket
      FROM documents)
    """,
)
def q_grouped_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the hash bucket is keyed by
    the GROUP (source/domain), not the document — every page of a
    source lands in one split, so near-duplicates and templated
    siblings (which cluster within a source) can never straddle the
    train/test boundary the way a per-doc split lets them
    (hash_split_sample is the per-doc form; this is the one to use
    when split integrity matters more than exact proportions).
    Content-independent and deterministic: stable under retries,
    engines, repartitioning, and corpus growth — new pages of a known
    source join its existing split. Map-only, zero shuffle: the split
    is a projection, exactly like the per-doc form."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return docs.select(
        "doc_id", "source",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        bucket.alias("bucket"),
    )


@query(
    "mojibake_report",
    oracle=None,  # set below: the pattern constant is interpolated
)
def q_mojibake_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake detection (functions/encoding.py): pure-JVM
    regexp_count of the classic UTF-8-as-cp1252 artifact sequences
    (single- AND double-encoded signatures) — the 100 TB prefilter
    that keeps the ftfy-style repair UDF off the clean majority. The
    synthetic corpus is clean, so the oracle pins the zero-count
    ground truth; the repair semantics are pinned by
    tests/test_encoding.py goldens."""
    from gush_spark.functions.encoding import mojibake_markers

    docs = load(spark, sf_dir, "documents")
    n = mojibake_markers(F.col("text"))
    return docs.select(
        "doc_id",
        n.alias("n_markers"),
        (n > 0).alias("suspect"),
    )


def _mojibake_oracle() -> str:
    from gush_spark.functions.encoding import MOJIBAKE_PATTERN

    return f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{MOJIBAKE_PATTERN}'))
                AS BIGINT) AS n_markers,
           len(regexp_extract_all(text, '{MOJIBAKE_PATTERN}')) > 0
             AS suspect
    FROM documents
    """


from gush_spark.queries import _ORACLES as _ORACLE_REGISTRY

_ORACLE_REGISTRY["mojibake_report"] = _mojibake_oracle()


# ---------------------------------------------------------------------------
# round 4 (cont.): distribution-level curation — in-domain LM likelihood
# (CCNet), hashed-n-gram importance resampling (DSIR), and quality-argmax
# canonical selection over near-dup clusters (RefinedWeb/SemDeDup keep-best).
# Shared oracle fragments: lang/source-aware base + the md5-of-md5 bigram
# keying that operators/lm.py and operators/importance.py define.
# ---------------------------------------------------------------------------
BASEL = f"basel AS (SELECT doc_id, lang, source, {NORM} AS norm FROM documents)"
WLANG = (
    "wlang AS (SELECT doc_id, lang, source, string_split(norm, ' ') AS ws "
    "FROM basel)"
)
# bigram gram keys md5(md5(w_i)||md5(w_{i+1})), context keys md5(w_i)
_BG_LIST = (
    "list_transform(generate_series(1, len(ws)-1), "
    "i -> md5(md5(ws[i])||md5(ws[i+1])))"
)
_CTX_LIST = "list_transform(generate_series(1, len(ws)-1), i -> md5(ws[i]))"
_UG_LIST = "list_transform(generate_series(1, len(ws)), i -> md5(ws[i]))"
# DSIR hashed feature buckets: 60-bit md5 prefix folded mod B
_DSIR_B = 1024
_FEAT_LIST = (
    f"list_concat("
    f"list_transform(generate_series(1, len(ws)), "
    f"i -> ('0x'||substring(md5(ws[i]), 1, 15))::BIGINT % {_DSIR_B}), "
    f"list_transform(generate_series(1, len(ws)-1), "
    f"i -> ('0x'||substring(md5(md5(ws[i])||md5(ws[i+1])), 1, 15))::BIGINT"
    f" % {_DSIR_B}))"
)
_DSIR_CTES = f"""{BASEL}, {WLANG},
    feats AS (SELECT doc_id, lang, unnest({_FEAT_LIST}) AS b FROM wlang),
    tc AS (SELECT b, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY b),
    rc AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
    tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) + {_DSIR_B} FROM tc) AS st,
                   (SELECT CAST(sum(cr) AS BIGINT) + {_DSIR_B} FROM rc) AS sr),
    dsir AS (
      SELECT doc_id, count(*) AS n,
             sum((coalesce(ct, 0) + 1) * sr) AS num,
             sum((coalesce(cr, 0) + 1) * st) AS den
      FROM feats LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN tot
      GROUP BY doc_id)"""


@query(
    "lm_likelihood_scores",
    oracle=f"""
    WITH {BASEL}, {WLANG},
    refbg AS (SELECT unnest({_BG_LIST}) AS gk FROM wlang WHERE lang = 'en'),
    refctx AS (SELECT unnest({_CTX_LIST}) AS h1 FROM wlang WHERE lang = 'en'),
    model AS (SELECT gk, count(*) AS c FROM refbg GROUP BY gk),
    ctx AS (SELECT h1, count(*) AS cc FROM refctx GROUP BY h1),
    vocab AS (SELECT count(DISTINCT u) AS V
              FROM (SELECT unnest({_UG_LIST}) AS u FROM wlang WHERE lang = 'en')),
    docbg AS (SELECT doc_id, unnest({_BG_LIST}) AS gk, unnest({_CTX_LIST}) AS h1
              FROM wlang),
    scored AS (
      SELECT doc_id, count(*) AS n,
             sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS m,
             sum(((coalesce(c, 0) + 1) * 1000000000) // (coalesce(cc, 0) + V))
               AS s
      FROM docbg LEFT JOIN model USING (gk) LEFT JOIN ctx USING (h1)
      CROSS JOIN vocab
      GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(n, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(m, 0) AS BIGINT) AS matched_bigrams,
           CAST(coalesce(s, 0) AS BIGINT) AS sum_p9
    FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
    """,
)
def q_lm_likelihood_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style in-domain likelihood: train an add-one bigram LM on
    the lang='en' slice, score EVERY doc in exact fixed point
    (operators/lm.py — see its docstring for the 100 TB join shape)."""
    from gush_spark.operators import lm

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en")
    model, ctx, vocab = lm.train_bigram_lm(ref, "doc_id", "text")
    return lm.score_with_bigram_lm(docs, model, ctx, vocab, "doc_id", "text")


@query(
    "dsir_importance_scores",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT d.doc_id,
           CAST(coalesce(n, 0) AS BIGINT) AS n_feats,
           CAST(coalesce(num, 0) AS BIGINT) AS aff_num,
           CAST(coalesce(den, 0) AS BIGINT) AS aff_den
    FROM documents d LEFT JOIN dsir ON d.doc_id = dsir.doc_id
    """,
)
def q_dsir_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-n-gram importance affinity of every doc toward the
    lang='en' target slice, in exact cross-multiplied integers
    (operators/importance.py)."""
    from gush_spark.operators import importance

    docs = load(spark, sf_dir, "documents")
    counts, tot = importance.fit_bucket_distributions(
        docs, F.col("lang") == "en", "doc_id", "text"
    )
    return importance.importance_scores(docs, counts, tot, "doc_id", "text")


@query(
    "dsir_resample",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN dsir ON d.doc_id = dsir.doc_id
    WHERE n > 0 AND num * 1000 >= den * 980
    """,
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-threshold selection at ratio >= 0.980: on this
    synthetic corpus (all langs share one 31-word vocabulary, so the
    distributional signal is weak by construction) this still keeps
    ~69% of the en target slice vs ~32% of every other lang — the
    enrichment DSIR promises, driven purely by hashed-feature counts."""
    from gush_spark.operators import importance

    docs = load(spark, sf_dir, "documents")
    counts, tot = importance.fit_bucket_distributions(
        docs, F.col("lang") == "en", "doc_id", "text"
    )
    kept = importance.importance_resample(
        docs, counts, tot, "doc_id", "text", min_ratio_permille=980
    )
    return kept.select("doc_id", "lang", "source")


@query(
    "canonical_best_docs",
    oracle=f"""
    WITH RECURSIVE {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS}, {CAND},
    shl AS (SELECT doc_id, {SHINGLE_LIST} AS shs FROM w WHERE len(ws) >= 3),
    {_JEDGES},
    edges AS (SELECT id_a AS src, id_b AS dst FROM jedges
              UNION ALL SELECT id_b, id_a FROM jedges),
    walk(id, lbl) AS (
      SELECT doc_id, doc_id FROM base
      UNION
      SELECT e.dst, w2.lbl FROM walk w2 JOIN edges e ON e.src = w2.id
    ),
    clusters AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY id),
    {_quality_feat_cte()},
    ranked AS (
      SELECT cluster_id, c.doc_id, quality_score,
             count(*) OVER (PARTITION BY cluster_id) AS n_members,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality_score DESC, c.doc_id ASC) AS rk
      FROM clusters c JOIN quality USING (doc_id))
    SELECT cluster_id, doc_id, quality_score,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rk = 1
    """,
)
def q_canonical_best_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best canonical selection: near-dup clusters -> per cluster
    the highest-quality member wins (ties to smallest id) — the
    RefinedWeb/SemDeDup step that upgrades 'keep lowest id' to 'keep
    the best copy' (dedup.best_per_cluster)."""
    docs = load(spark, sf_dir, "documents")
    clusters = dedup.near_dup_clusters(
        docs, "doc_id", "text", threshold=0.6, spread=None
    )
    feats = ta.quality_features(F.col("text"))
    scored = docs.select("doc_id", feats["quality_score"].alias("quality_score"))
    return dedup.best_per_cluster(clusters, scored, "doc_id", "quality_score")


# ---------------------------------------------------------------------------
# semantic (embedding-space) curation: cosine decontamination and
# SemDeDup clustering/keep — the vector-side twins of the n-gram
# decontamination gate and the text near-dup canonical selection.
# ---------------------------------------------------------------------------
_SEM_CELLS, _SEM_ITERS, _SEM_TAU = 48, 1, 0.4


def _semantic_cluster_parts() -> list[str]:
    """kmeans cells + within-cell cosine edges + recursive min-label
    walk — the shared CTE stack for both SemDeDup oracles. Threshold
    compares 6dp-rounded cosines, same as the Spark side."""
    parts = _kmeans_parts(_SEM_CELLS, _SEM_ITERS, quantized_assign=True)
    parts.append(
        f"pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b"
        f" FROM lab a JOIN lab b ON a.cell = b.cell AND a.vec_id < b.vec_id"
        f" WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 6)"
        f" >= {_SEM_TAU})"
    )
    parts.append(
        "sedges AS (SELECT id_a AS src, id_b AS dst FROM pairs"
        " UNION ALL SELECT id_b, id_a FROM pairs)"
    )
    parts.append(
        "walk(id, lbl) AS (SELECT vec_id, vec_id FROM embeddings"
        " UNION SELECT e.dst, w2.lbl FROM walk w2"
        " JOIN sedges e ON e.src = w2.id)"
    )
    parts.append(
        "sclusters AS (SELECT id AS vec_id, min(lbl) AS sem_cluster_id"
        " FROM walk GROUP BY id)"
    )
    return parts


@query(
    "semantic_decontaminate",
    oracle=f"""
    WITH bench AS (SELECT embedding AS bvec FROM embeddings
                   WHERE vec_id % 25 = 0),
    scored AS (SELECT vec_id,
                      round({_cos_sql("embedding", "bvec")}, 6) AS c
               FROM embeddings CROSS JOIN bench),
    per AS (SELECT vec_id, max(c) AS max_cos FROM scored GROUP BY vec_id)
    SELECT e.vec_id, max_cos,
           coalesce(max_cos >= 0.45, FALSE) AS contaminated
    FROM embeddings e LEFT JOIN per ON e.vec_id = per.vec_id
    """,
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: max cosine of every
    corpus vector to the benchmark set (the vec_id%25 slice — the
    planted 'benchmark appears verbatim in the crawl' case scores 1.0
    and is flagged; 0.45 also catches genuinely-near vectors on this
    random-embedding fixture whose max cross-pair cosine is ~0.51)."""
    vecs = load(spark, sf_dir, "embeddings")
    bench = vecs.filter(F.col("vec_id") % 25 == 0)
    return similarity.cosine_contamination_report(
        vecs, bench, threshold=0.45
    )


@query(
    "semantic_dup_clusters",
    oracle="WITH RECURSIVE "
    + ",\n".join(_semantic_cluster_parts())
    + "\nSELECT vec_id, sem_cluster_id FROM sclusters",
)
def q_semantic_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup clustering: k-means cells (deterministic quantizer),
    within-cell cosine>=0.4 edges, connected components. 0.4 sits
    below this fixture's max pair cosine (~0.51) but above the random
    bulk, so real clusters form while the graph stays below
    percolation (a lower cut on near-random vectors grows giant
    high-diameter components and the propagation rounds with them;
    real text embeddings would cut at ~0.95+). Cells sized ~sqrt(N)
    keep the quadratic stage per-cell."""
    vecs = load(spark, sf_dir, "embeddings")
    clusters, _, _ = similarity.semantic_dup_clusters(
        vecs, threshold=_SEM_TAU, n_cells=_SEM_CELLS, iters=_SEM_ITERS,
        spread=None,
    )
    return clusters


@query(
    "semantic_canonical_vecs",
    oracle="WITH RECURSIVE "
    + ",\n".join(_semantic_cluster_parts())
    + f""",
    cscored AS (SELECT l.vec_id,
                       -round({_cos_sql("l.embedding", "r.rep_vec")}, 6)
                         AS neg_centroid_cos
                FROM lab l JOIN reps r USING (cell)),
    ranked AS (SELECT c.sem_cluster_id, s.vec_id, s.neg_centroid_cos,
                      count(*) OVER (PARTITION BY c.sem_cluster_id)
                        AS n_members,
                      row_number() OVER (PARTITION BY c.sem_cluster_id
                                         ORDER BY s.neg_centroid_cos DESC,
                                                  s.vec_id ASC) AS rk
               FROM sclusters c JOIN cscored s USING (vec_id))
    SELECT sem_cluster_id, vec_id, neg_centroid_cos,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rk = 1
    """,
)
def q_semantic_canonical_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep policy: one representative per semantic cluster —
    the member FARTHEST from its k-means centroid (the paper's
    low-centroid-similarity choice), ties to smallest id."""
    vecs = load(spark, sf_dir, "embeddings")
    return similarity.semantic_canonical_vecs(
        vecs, threshold=_SEM_TAU, n_cells=_SEM_CELLS, iters=_SEM_ITERS,
        spread=None,
    )


# ---------------------------------------------------------------------------
# keyword extraction: TF-IDF / BM25 top terms and the cluster-topic
# corpus map (operators/keywords.py)
# ---------------------------------------------------------------------------
from gush_spark.operators import keywords as kw  # noqa: E402

# the synthetic corpus shares one 31-word vocabulary, so the realistic
# default stopword cut (max_df_frac=0.5) would empty the result — the
# catalog queries use 0.9 and keep the operator defaults web-realistic
_KW_MAXDF = 0.9
_TF_CTES = (
    "toks AS (SELECT doc_id, unnest(string_split("
    + NORM
    + ", ' ')) AS term FROM documents),\n"
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks"
    " WHERE term <> '' GROUP BY doc_id, term),\n"
    "dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term)"
)


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH {_TF_CTES},
    n AS (SELECT count(*) AS _n FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             round(tf * round(ln((_n + 1.0) / (df + 1.0)) + 1.0, 6), 6)
               AS tfidf
      FROM tf JOIN dft USING (term) CROSS JOIN n
      WHERE df >= 2 AND df <= _n * {_KW_MAXDF})
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rank
      FROM scored) WHERE rank <= 5
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 smoothed-TF-IDF terms with the corpus-relative
    stopword cut; the 6dp-rounded idf keeps the hash engine-exact."""
    docs = load(spark, sf_dir, "documents")
    return kw.tfidf_top_terms(docs, k=5, min_df=2, max_df_frac=_KW_MAXDF)


@query(
    "bm25_top_terms",
    oracle=f"""
    WITH {_TF_CTES},
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
           GROUP BY doc_id),
    tot AS (SELECT (SELECT count(*) FROM documents) AS _n,
                   (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS _toks),
    scored AS (
      SELECT tf.doc_id, term, tf, df, dl,
             round(round(ln(1.0 + (_n - df + 0.5) / (df + 0.5)), 6)
                   * ((tf * {kw.BM25_K1 + 1.0!r}) /
                      (tf + {kw.BM25_K1!r} * ({1.0 - kw.BM25_B!r}
                       + {kw.BM25_B!r} * (dl / (_toks / _n))))), 6) AS score
      FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
      WHERE df >= 2 AND df <= _n * {_KW_MAXDF})
    SELECT doc_id, term, tf, df, dl, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM scored) WHERE rank <= 5
    """,
)
def q_bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 BM25 term weights (saturated tf +
    length-normalized); constants folded in Python and inlined
    identically on both engines."""
    docs = load(spark, sf_dir, "documents")
    return kw.bm25_top_terms(docs, k=5, min_df=2, max_df_frac=_KW_MAXDF)


_TOPIC_CELLS, _TOPIC_ITERS = 12, 1


@query(
    "cluster_topic_report",
    oracle="WITH "
    + ",\n".join(_kmeans_parts(_TOPIC_CELLS, _TOPIC_ITERS, quantized_assign=True))
    + f""",
    {_TF_CTES},
    ctf AS (SELECT cell, term, CAST(sum(tf) AS BIGINT) AS tf
            FROM tf t JOIN lab l ON t.doc_id = l.vec_id
            GROUP BY cell, term),
    cft AS (SELECT term, count(*) AS cf FROM ctf GROUP BY term),
    scored AS (
      SELECT cell, term, tf, cf,
             round(tf * round(ln(({float(_TOPIC_CELLS)!r} + 1.0)
               / (cf + 1.0)) + 1.0, 6), 6) AS score
      FROM ctf JOIN cft USING (term))
    SELECT cell, term, tf, cf, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY cell
                                   ORDER BY score DESC, term) AS rank
      FROM scored) WHERE rank <= 5
    """,
)
def q_cluster_topic_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus map: label each k-means embedding cell with its top-5
    characteristic terms (cell tf × cluster-frequency idf). Documents
    join embeddings on doc_id = vec_id."""
    docs = load(spark, sf_dir, "documents")
    vecs = load(spark, sf_dir, "embeddings")
    return kw.cluster_topic_report(
        docs, vecs, n_cells=_TOPIC_CELLS, iters=_TOPIC_ITERS, k=5,
        spread=None,
    )


# ---------------------------------------------------------------------------
# product quantization (operators/pq.py): codes + ADC top-k. All-integer
# arithmetic — the oracle replicates training/encode/ADC exactly.
# ---------------------------------------------------------------------------
from gush_spark.operators import pq as pq_ops  # noqa: E402

_PQ_DIM, _PQ_SUB = 64, 64 // pq_ops.PQ_M


def _pq_codebook_parts(
    iters: int, src: str = "sub", pfx: str = ""
) -> list[str]:
    """Codebook-train + encode CTE stack over any quantized-coords
    source CTE ``src (vec_id, m, pos, xq)``: seeded codebooks,
    ``iters`` integer-L2 Lloyd rounds, final encode. Ends with
    ``{pfx}codes (vec_id, m, code)``; codebook = ``{pfx}cb{iters}``.
    The prefix keeps names clear of _kmeans_parts' a{i} CTEs when the
    two stacks compose (IVF-PQ)."""
    parts = [
        f"{pfx}seed AS (SELECT vec_id FROM embeddings ORDER BY vec_id"
        f" LIMIT {pq_ops.PQ_K})",
        f"{pfx}cb0 AS (SELECT s.vec_id AS code, m, pos, xq AS cq"
        f" FROM {src} s JOIN {pfx}seed USING (vec_id))",
    ]
    for i in range(iters + 1):  # final pass is the encode
        parts.append(
            f"{pfx}d{i + 1} AS (SELECT s.vec_id, s.m, c.code,"
            f" sum((s.xq - c.cq) * (s.xq - c.cq)) AS d"
            f" FROM {src} s JOIN {pfx}cb{i} c"
            f" ON s.m = c.m AND s.pos = c.pos"
            f" GROUP BY s.vec_id, s.m, c.code)"
        )
        parts.append(
            f"{pfx}a{i + 1} AS (SELECT vec_id, m, code FROM ("
            f"SELECT vec_id, m, code,"
            f" row_number() OVER (PARTITION BY vec_id, m"
            f" ORDER BY d, code) AS rn FROM {pfx}d{i + 1}) WHERE rn = 1)"
        )
        if i < iters:
            parts.append(
                f"{pfx}cb{i + 1} AS (SELECT s.m, a.code, s.pos,"
                f" CAST(floor(CAST(sum(s.xq) AS DOUBLE) / count(*))"
                f" AS BIGINT) AS cq"
                f" FROM {src} s JOIN {pfx}a{i + 1} a"
                f" ON s.vec_id = a.vec_id AND s.m = a.m"
                f" GROUP BY s.m, a.code, s.pos)"
            )
    parts.append(
        f"{pfx}codes AS (SELECT vec_id, m, code FROM {pfx}a{iters + 1})"
    )
    return parts


def _pq_parts(iters: int = 1) -> list[str]:
    """DuckDB replica of pq.pq_train + pq_encode over the raw
    embeddings: quantize/slice + the codebook/encode stack."""
    q = float(similarity.KMEANS_QUANT)
    parts = [
        "sub0 AS (SELECT vec_id,"
        " unnest(generate_series(1, len(embedding))) AS i,"
        " unnest(embedding) AS x FROM embeddings)",
        f"sub AS (SELECT vec_id, (i-1) // {_PQ_SUB} AS m,"
        f" (i-1) % {_PQ_SUB} AS pos,"
        f" CAST(floor(CAST(x AS DOUBLE) * {q!r}) AS BIGINT) AS xq FROM sub0)",
    ]
    return parts + _pq_codebook_parts(iters, src="sub", pfx="")


@query(
    "pq_codes",
    oracle="WITH "
    + ",\n".join(_pq_parts(1))
    + "\nSELECT vec_id, m, code FROM codes",
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the corpus: 64 floats → 4 code longs per vector
    (long-form (vec_id, m, code)); one deterministic integer-L2 Lloyd
    round per subspace."""
    vecs = load(spark, sf_dir, "embeddings")
    cb = pq_ops.pq_train(vecs, iters=1, dim=_PQ_DIM)
    return pq_ops.pq_encode(vecs, cb, dim=_PQ_DIM)


@query(
    "pq_adc_topk",
    oracle="WITH "
    + ",\n".join(_pq_parts(1))
    + """,
    qsub AS (SELECT vec_id AS query_id, m, pos, xq AS qq FROM sub
             WHERE vec_id < 8),
    lut AS (SELECT query_id, c.m, c.code,
                   sum((qq - cq) * (qq - cq)) AS d
            FROM qsub q JOIN cb1 c ON q.m = c.m AND q.pos = c.pos
            GROUP BY query_id, c.m, c.code),
    sc AS (SELECT query_id, codes.vec_id AS neighbor_id,
                  CAST(sum(d) AS BIGINT) AS adc_dist
           FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code
           GROUP BY query_id, codes.vec_id)
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rank
      FROM sc) WHERE rank <= 5
    """,
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 per query over PQ codes: the float corpus is never
    read at query time — M integer table lookups per candidate."""
    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    cb = pq_ops.pq_train(vecs, iters=1, dim=_PQ_DIM)
    codes = pq_ops.pq_encode(vecs, cb, dim=_PQ_DIM)
    return pq_ops.pq_adc_topk(codes, cb, queries_df, k=5, dim=_PQ_DIM)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse kmeans cells + residual PQ + probed ADC (pq.ivfpq_topk)
# ---------------------------------------------------------------------------
_IVFPQ_CELLS, _IVFPQ_PROBE = 8, 2


def _ivfpq_sql() -> str:
    q = float(similarity.KMEANS_QUANT)
    parts = _kmeans_parts(_IVFPQ_CELLS, 1, quantized_assign=True)
    parts.append(
        "rs0 AS (SELECT l.vec_id, l.embedding, r.rep_vec,"
        " unnest(generate_series(1, len(l.embedding))) AS i"
        " FROM lab l JOIN reps r USING (cell))"
    )
    parts.append(
        f"rsub AS (SELECT vec_id, (i-1) // {_PQ_SUB} AS m,"
        f" (i-1) % {_PQ_SUB} AS pos,"
        f" CAST(floor((CAST(embedding[i] AS DOUBLE) - rep_vec[i]) * {q!r})"
        f" AS BIGINT) AS xq FROM rs0)"
    )
    parts += _pq_codebook_parts(1, src="rsub", pfx="r")
    cnorm = "sqrt(" + _dot_sql("rep_vec", "rep_vec") + ")"
    parts.append(
        f"cnf AS (SELECT cell, list_transform(rep_vec,"
        f" x -> CAST(floor(x / {cnorm} * {q!r}) AS BIGINT)) AS cn FROM reps)"
    )
    parts.append(
        "qqv AS (SELECT vec_id AS query_id, embedding, qvec FROM qv"
        " WHERE vec_id < 8)"
    )
    iqdot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(generate_series(1, len(q.qvec)),"
        " i -> q.qvec[i] * c.cn[i])), (x, y) -> x + y)"
    )
    parts.append(
        f"probe AS (SELECT query_id, cell FROM ("
        f"SELECT q.query_id, c.cell,"
        f" row_number() OVER (PARTITION BY q.query_id"
        f" ORDER BY {iqdot} DESC, c.cell) AS rn"
        f" FROM qqv q CROSS JOIN cnf c) WHERE rn <= {_IVFPQ_PROBE})"
    )
    parts.append(
        "qr0 AS (SELECT p.query_id, p.cell, q.embedding, r.rep_vec,"
        " unnest(generate_series(1, len(q.embedding))) AS i"
        " FROM probe p JOIN reps r USING (cell)"
        " JOIN qqv q USING (query_id))"
    )
    parts.append(
        f"qrsub AS (SELECT query_id, cell, (i-1) // {_PQ_SUB} AS m,"
        f" (i-1) % {_PQ_SUB} AS pos,"
        f" CAST(floor((CAST(embedding[i] AS DOUBLE) - rep_vec[i]) * {q!r})"
        f" AS BIGINT) AS qq FROM qr0)"
    )
    parts.append(
        "lut AS (SELECT query_id, cell, c.m, c.code,"
        " sum((qq - cq) * (qq - cq)) AS d"
        " FROM qrsub s JOIN rcb1 c ON s.m = c.m AND s.pos = c.pos"
        " GROUP BY query_id, cell, c.m, c.code)"
    )
    parts.append(
        "sc AS (SELECT l.query_id, cd.vec_id AS neighbor_id,"
        " CAST(sum(l.d) AS BIGINT) AS adc_dist"
        " FROM rcodes cd JOIN lab lb USING (vec_id)"
        " JOIN lut l ON l.cell = lb.cell AND l.m = cd.m AND l.code = cd.code"
        " GROUP BY l.query_id, cd.vec_id)"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rank
      FROM sc) WHERE rank <= 5
    """
    )


@query("ann_topk_ivfpq", oracle=_ivfpq_sql())
def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVF-PQ top-5: coarse cells partition the corpus,
    residual PQ codes compress it, queries probe 2 cells and score
    members via integer ADC tables — the float corpus is never read at
    query time."""
    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    return pq_ops.ivfpq_topk(
        vecs, queries_df,
        n_cells=_IVFPQ_CELLS, cell_iters=1, pq_iters=1,
        n_probe=_IVFPQ_PROBE, k=5, dim=_PQ_DIM, spread=None,
    )


# ---------------------------------------------------------------------------
# Corpus snapshot diff (operators/snapshot.py). Two deterministic
# snapshot views of `documents` stand in for yesterday/today corpus
# versions: the old snapshot drops doc_id % 11 == 0 (those become
# 'added'), the new snapshot drops % 13 == 0 ('removed'), and docs with
# % 7 == 0 carry a ' v1' suffix only in the old text ('changed').

_SNAP_CTES = f"""
    oldt AS (SELECT doc_id,
                    CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END
                      AS text
             FROM documents WHERE doc_id % 11 <> 0),
    newt AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
    ofp AS (SELECT doc_id, md5({NORM}) AS old_fp FROM oldt),
    nfp AS (SELECT doc_id, md5({NORM}) AS new_fp FROM newt),
    diff AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.old_fp, n.new_fp,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.old_fp IS DISTINCT FROM n.new_fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM ofp o FULL OUTER JOIN nfp n ON o.doc_id = n.doc_id)
"""


def _snapshot_views(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = load(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 11 != 0").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v1"))
        ).otherwise(F.col("text")),
    )
    new = docs.filter("doc_id % 13 != 0")
    return old, new


@query(
    "snapshot_diff",
    oracle=f"WITH {_SNAP_CTES} SELECT doc_id, old_fp, new_fp, status FROM diff",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version corpus diff: added/removed/changed/unchanged
    per doc id — both sides reduced map-only to (id, 16-byte
    fingerprint) before the single full-outer id join, so raw text
    never crosses an exchange."""
    from gush_spark.operators import snapshot

    old, new = _snapshot_views(spark, sf_dir)
    return snapshot.snapshot_diff(old, new, "doc_id", "text")


@query(
    "snapshot_diff_summary",
    oracle=f"""WITH {_SNAP_CTES}
    SELECT status, count(*) AS n FROM diff GROUP BY status""",
)
def q_snapshot_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card delta: ≤ 4-row (status, n) rollup of the
    snapshot diff, partial-combinable above the diff's id join."""
    from gush_spark.operators import snapshot

    old, new = _snapshot_views(spark, sf_dir)
    return snapshot.snapshot_diff_summary(old, new, "doc_id", "text")


_DECAY_NOW = 1700000000 + 500 * 60   # "now" = just past the last synthetic ts
_DECAY_HL = 3600                     # half-life = the window width
_DECAY_B = 16                        # clamp; max bucket here is ~8


@query(
    "decayed_trending_terms",
    oracle=f"""
    WITH {BASE}, {WORDS},
    tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
    counted AS (
      SELECT CAST(floor((1700000000 + doc_id * 60) / 3600) * 3600 AS BIGINT)
               AS ws_s,
             term, CAST(count(*) AS BIGINT) AS n
      FROM tok WHERE term != '' GROUP BY 1, 2),
    scaled AS (
      SELECT term, n,
             n * (CAST(1 AS BIGINT) << ({_DECAY_B} - greatest(least(
               CAST(floor(({_DECAY_NOW} - ws_s) / {_DECAY_HL}) AS INTEGER),
               {_DECAY_B}), 0))) AS w
      FROM counted),
    agg AS (
      SELECT term, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(w) AS BIGINT) AS score_scaled
      FROM scaled GROUP BY term),
    ranked AS (
      SELECT term, n, score_scaled,
             CAST(score_scaled AS DOUBLE) / {float(2 ** _DECAY_B)!r} AS score,
             CAST(row_number() OVER (ORDER BY score_scaled DESC, term)
                  AS BIGINT) AS rnk
      FROM agg)
    SELECT term, n, score_scaled, score, rnk FROM ranked WHERE rnk <= 20
    """,
)
def q_decayed_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed trending terms: windowed counts (the streaming-
    compatible first stage) finalized by the exact-integer half-life
    decay, global top-20 via TakeOrderedAndProject."""
    from gush_spark.operators.trending import decayed_term_scores, windowed_term_counts

    docs = load(spark, sf_dir, "documents").withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 60)
    )
    counts = windowed_term_counts(
        docs, ts_col="ts", text_col="text", window_duration="1 hour"
    )
    return decayed_term_scores(
        counts,
        now_s=_DECAY_NOW,
        half_life_s=_DECAY_HL,
        max_buckets=_DECAY_B,
        k=20,
    )


_EXPECT_SQL = f"""
    rep AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_text,
             CAST(sum(CASE WHEN text IS NOT NULL AND {NORM} = '' THEN 1
                      ELSE 0 END) AS BIGINT) AS n_empty,
             CAST(count(DISTINCT md5({NORM})) AS BIGINT) AS n_distinct,
             CAST(count(text) AS BIGINT) AS _nn,
             CAST(min(length(text)) AS BIGINT) AS min_chars,
             CAST(max(length(text)) AS BIGINT) AS max_chars,
             CAST(sum(length(text)) AS BIGINT) AS _sum_chars
      FROM documents GROUP BY source),
    report AS (
      SELECT source, n_rows, n_null_text, n_empty, n_distinct,
             _nn - n_distinct AS n_dups,
             CAST(n_null_text AS DOUBLE) / n_rows AS null_rate,
             CAST(_nn - n_distinct AS DOUBLE) / n_rows AS dup_rate,
             min_chars, max_chars,
             CAST(_sum_chars AS DOUBLE) / _nn AS avg_chars
      FROM rep)
"""


@query(
    "data_expectations_report",
    oracle=f"WITH {_EXPECT_SQL} SELECT * FROM report",
)
def q_data_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-quality audit (operators/validate.py): one
    partial-combinable pass; exact dup counts via count-distinct over
    16-byte fingerprints."""
    from gush_spark.operators.validate import expectations_report

    return expectations_report(load(spark, sf_dir, "documents"))


@query(
    "data_expectation_violations",
    oracle=f"""WITH {_EXPECT_SQL}
    SELECT report.*,
           n_rows < 50 AS viol_min_rows,
           null_rate > 0.01 AS viol_null_rate,
           dup_rate > 0.05 AS viol_dup_rate,
           avg_chars < 20.0 AS viol_avg_chars,
           NOT (n_rows < 50 OR null_rate > 0.01 OR dup_rate > 0.05
                OR avg_chars < 20.0) AS ok
    FROM report""",
)
def q_data_expectation_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thresholded release gate over the expectations report —
    map-only flags per source."""
    from gush_spark.operators.validate import (
        expectation_violations,
        expectations_report,
    )

    report = expectations_report(load(spark, sf_dir, "documents"))
    return expectation_violations(
        report,
        min_rows=50,
        max_null_rate=0.01,
        max_dup_rate=0.05,
        min_avg_chars=20.0,
    )


@query(
    "linear_classifier_scores",
    oracle=f"""
    WITH {BASE}, {WORDS},
    tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
    tw AS (SELECT doc_id,
                  ('0x' || substring(md5('q0' || term), 1, 8))::BIGINT
                    % 2001 - 1000 AS wt
           FROM tok WHERE term != ''),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(wt) AS BIGINT) AS score_scaled
            FROM tw GROUP BY doc_id)
    SELECT doc_id, n_tokens, score_scaled,
           CAST(score_scaled AS DOUBLE) / (1000 * n_tokens) AS score,
           CAST(score_scaled AS DOUBLE) / (1000 * n_tokens) >= 0.0 AS keep
    FROM agg
    """,
)
def q_linear_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (operators/classifier.py): hashed
    token weights summed integer-exact per doc, one final division —
    the fastText-shaped scoring pass with a seeded-projection stand-in
    weight table."""
    from gush_spark.operators.classifier import linear_scores

    return linear_scores(load(spark, sf_dir, "documents"), threshold=0.0)


_SEARCH_TERMS = ("shuffle", "watermark", "dup")


@query(
    "bm25_search_topk",
    oracle=f"""
    WITH {_TF_CTES},
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
           GROUP BY doc_id),
    tot AS (SELECT (SELECT count(*) FROM documents) AS _n,
                   (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS _toks),
    micro AS (
      SELECT tf.doc_id,
             CAST(round(round(ln(1.0 + (_n - df + 0.5) / (df + 0.5)), 6)
                   * ((tf * {kw.BM25_K1 + 1.0!r}) /
                      (tf + {kw.BM25_K1!r} * ({1.0 - kw.BM25_B!r}
                       + {kw.BM25_B!r} * (dl / (_toks / _n)))))
                   * 1000000.0) AS BIGINT) AS m
      FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
      WHERE term IN {_SEARCH_TERMS!r}),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
                   CAST(sum(m) AS BIGINT) AS score_micro
            FROM micro GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, n_matched, score_micro,
             CAST(score_micro AS DOUBLE) / 1000000.0 AS score,
             CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
                  AS BIGINT) AS rank
      FROM agg)
    SELECT doc_id, n_matched, score_micro, score, rank
    FROM ranked WHERE rank <= 10
    """,
)
def q_bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search over the corpus: top-10 docs by summed BM25
    weight for a fixed 3-term query; per-term micro-scores sum as
    BIGINTs so accumulation order can't leak into the hash."""
    docs = load(spark, sf_dir, "documents")
    return kw.bm25_search(docs, list(_SEARCH_TERMS), k=10)


@query(
    "interval_join_events",
    oracle="""
    WITH ev AS (SELECT event_id, user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                       event_type
                FROM events),
    iv AS (SELECT event_id AS window_id, user_id, ts_s AS start_s,
                  ts_s + 1800 AS end_s
           FROM ev WHERE event_type = 'purchase')
    SELECT window_id, e.event_id, e.user_id, e.ts_s, iv.start_s, iv.end_s
    FROM iv JOIN ev e ON e.user_id = iv.user_id
                     AND e.ts_s >= iv.start_s AND e.ts_s <= iv.end_s
    """,
)
def q_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-bucketed interval join (operators/joins.py): every event
    inside the 30-minute window after each purchase of the same user —
    an equi-join on (user, time-bucket), never a nested-loop range
    join."""
    from gush_spark.operators.joins import interval_join

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
        "event_type",
    )
    iv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("window_id"),
        "user_id",
        F.col("ts_s").alias("start_s"),
        (F.col("ts_s") + 1800).alias("end_s"),
    )
    out = interval_join(
        ev,
        iv,
        keys=["user_id"],
        ts_col="ts_s",
        start_col="start_s",
        end_col="end_s",
        bucket_s=1800,
    )
    return out.select("window_id", "event_id", "user_id", "ts_s", "start_s", "end_s")


_PLAN_W = {"en": 0.55, "zh": 0.25, "es": 0.2}
_PLAN_BUDGET = 400_000
_PLAN_CAP = 3


@query(
    "token_budget_plan",
    oracle=f"""
    WITH {BASE},
    toks AS (SELECT doc_id, d.lang,
                    CAST(CASE WHEN norm IS NULL OR norm = '' THEN 0
                         ELSE len(string_split(norm, ' ')) END AS BIGINT)
                      AS n_toks
             FROM base JOIN documents d USING (doc_id)),
    avail AS (SELECT lang,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_toks) AS BIGINT) AS toks_available
              FROM toks GROUP BY lang),
    w(lang, _w) AS (VALUES ('en', 0.55), ('zh', 0.25), ('es', 0.2)),
    raw AS (SELECT a.lang, n_docs, toks_available,
                   CAST(round(_w * {_PLAN_BUDGET}) AS BIGINT) AS target_toks,
                   {_PLAN_CAP} * toks_available AS _cap_toks
            FROM avail a JOIN w ON a.lang = w.lang),
    raw2 AS (SELECT *,
                    least(target_toks, _cap_toks) AS _capped,
                    target_toks > _cap_toks AS _is_capped
             FROM raw),
    tot AS (SELECT CAST(sum(target_toks - _capped) AS BIGINT) AS _surplus,
                   CAST(sum(CASE WHEN NOT _is_capped THEN target_toks
                            ELSE 0 END) AS BIGINT) AS _uncapped_raw
            FROM raw2),
    planned AS (SELECT lang, n_docs, toks_available, target_toks,
                       _capped + CASE WHEN _is_capped OR _uncapped_raw = 0
                                      THEN 0
                                      ELSE (_surplus * target_toks)
                                           // _uncapped_raw END AS plan_toks,
                       _cap_toks
                FROM raw2 CROSS JOIN tot)
    SELECT lang, n_docs, toks_available, target_toks, plan_toks,
           CAST(plan_toks AS DOUBLE) / toks_available AS epochs,
           plan_toks > _cap_toks AS over_cap
    FROM planned
    """,
)
def q_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch planner (operators/mixture.py): per-language
    token allocations under a 400k budget with a 3-epoch repetition cap
    and integer pro-rata redistribution of the capped surplus."""
    from gush_spark.functions.text_analysis import norm_text, words_of
    from gush_spark.operators.mixture import token_budget_plan

    norm = norm_text(F.col("text"))
    docs = load(spark, sf_dir, "documents").select(
        "lang",
        F.when(norm.isNull() | (norm == ""), F.lit(0))
        .otherwise(F.size(words_of(F.col("text"))))
        .cast("long")
        .alias("n_toks"),
    )
    return token_budget_plan(
        docs, "lang", "n_toks", _PLAN_W, _PLAN_BUDGET, max_epochs=_PLAN_CAP
    )


@query(
    "host_hierarchy_rollup",
    oracle="WITH " + _URL_SQL + r"""
    , hosts AS (
      SELECT regexp_replace(regexp_replace(
               lower(regexp_extract(trim(url),
                 '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2)),
               '^www\.', ''), ':\d+$', '') AS host
      FROM urls
      WHERE regexp_extract(trim(url),
              '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2) <> ''),
    lv AS (
      SELECT regexp_extract(host, '[^.]+$') AS tld,
             regexp_extract(host, '[^.]+\.[^.]+$') AS registered_domain,
             host
      FROM hosts)
    SELECT tld, registered_domain, host, CAST(count(*) AS BIGINT) AS n,
           CAST(GROUPING(tld, registered_domain, host) AS BIGINT) AS lvl
    FROM lv GROUP BY ROLLUP(tld, registered_domain, host)
    """,
)
def q_host_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-stats rollup over the URL hierarchy (tld → registered
    domain → host): ONE pass with ROLLUP grouping sets — subtotal rows
    disambiguated from genuine nulls by grouping_id (same bitmask
    convention both engines). Invalid URLs (no authority) are dropped
    before the rollup."""
    from gush_spark.operators.urls import canonicalize_url

    docs = load(spark, sf_dir, "documents")
    cols = canonicalize_url(_messy_url())
    base = (
        docs.select(
            cols["host"].alias("host"),
            cols["registered_domain"].alias("registered_domain"),
        )
        .filter(F.col("host").isNotNull())
        .withColumn("tld", F.regexp_extract("host", r"[^.]+$", 0))
    )
    return (
        base.rollup("tld", "registered_domain", "host")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().cast("long").alias("lvl"),
        )
        .select("tld", "registered_domain", "host", "n", "lvl")
    )


@query(
    "quality_percentile_by_source",
    oracle=f"""
    WITH {BASE}, {WORDS},
    feats AS (SELECT doc_id, {QUALITY_RATIOS} FROM w),
    quality AS (SELECT doc_id, {QUALITY_SCORE} AS quality_score FROM feats),
    ranked AS (
      SELECT q.doc_id, d.source, q.quality_score,
             percent_rank() OVER (PARTITION BY d.source
                                  ORDER BY q.quality_score) AS pct
      FROM quality q JOIN documents d USING (doc_id))
    SELECT doc_id, source, quality_score, pct,
           least(CAST(floor(pct * 10) AS BIGINT), 9) AS source_decile
    FROM ranked
    """,
)
def q_quality_percentile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-relative quality normalization: percent_rank within each
    source makes scores comparable ACROSS sources with different score
    distributions (a mediocre doc from a stellar source shouldn't
    outrank a great doc from a noisy one) — the complement to the
    corpus-relative decile binning. One window per source partition;
    for mega-sources the decile-boundary form (quality_decile_
    assignment) is the sort-free alternative."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    feats = ta.quality_features(F.col("text"))
    scored = docs.select(
        "doc_id", "source", feats["quality_score"].alias("quality_score")
    )
    w = Window.partitionBy("source").orderBy("quality_score")
    return scored.select(
        "*", F.percent_rank().over(w).alias("pct")
    ).select(
        "doc_id",
        "source",
        "quality_score",
        "pct",
        F.least(F.floor(F.col("pct") * 10).cast("long"), F.lit(9)).alias(
            "source_decile"
        ),
    )


def _centroid_map_sql() -> str:
    dot_ab = _dot_sql("a.csum", "b.csum")
    dot_aa = _dot_sql("a.csum", "a.csum")
    dot_bb = _dot_sql("b.csum", "b.csum")
    return f"""
    WITH ex AS (
      SELECT label, i AS pos,
             CAST(floor(embedding[i]::DOUBLE * 1048576.0) AS BIGINT) AS q
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
    pd AS (SELECT label, pos, CAST(sum(q) AS BIGINT) AS s,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM ex GROUP BY label, pos),
    cs AS (SELECT label, list(s ORDER BY pos) AS csum,
                  CAST(max(cnt) AS BIGINT) AS n
           FROM pd GROUP BY label)
    SELECT a.label AS group_a, b.label AS group_b, a.n AS n_a, b.n AS n_b,
           round(({dot_ab}) / (sqrt({dot_aa}) * sqrt({dot_bb})), 6)
             AS cos_sim
    FROM cs a JOIN cs b ON a.label < b.label
    """


@query("centroid_similarity_map", oracle=_centroid_map_sql())
def q_centroid_similarity_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between label centroids (operators/similarity.py
    ::centroid_similarity_map): quantized BIGINT centroid sums from one
    corpus pass, |labels|²-sized pair stage — the embedding-space
    redundancy/diversity map for mixture planning."""
    from gush_spark.operators.similarity import centroid_similarity_map

    vecs = load(spark, sf_dir, "embeddings")
    return centroid_similarity_map(vecs, "label", "embedding")


@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH {BASE}, {WORDS},
    tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
    counted AS (
      SELECT CAST(floor((1700000000 + doc_id * 60) / 300) * 300 AS BIGINT)
               AS ws_s,
             term
      FROM tok WHERE term != ''),
    firsts AS (SELECT term, min(ws_s) AS first_window FROM counted
               GROUP BY term),
    pw AS (SELECT first_window, CAST(count(*) AS BIGINT) AS n_new_terms
           FROM firsts GROUP BY first_window)
    SELECT first_window AS window_start_s, n_new_terms,
           CAST(sum(n_new_terms) OVER (ORDER BY first_window
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
    FROM pw
    """,
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth over the synthetic hourly stream:
    first-appearance counts per window plus the running vocabulary
    size (operators/trending.py::vocab_growth)."""
    from gush_spark.operators.trending import vocab_growth, windowed_term_counts

    docs = load(spark, sf_dir, "documents").withColumn(
        "ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 60)
    )
    counts = windowed_term_counts(
        docs, ts_col="ts", text_col="text", window_duration="5 minutes"
    )
    return vocab_growth(counts).select(
        F.col("window_start").cast("timestamp").cast("long").alias(
            "window_start_s"
        ),
        "n_new_terms",
        "cum_vocab",
    )


@query(
    "packing_efficiency_report",
    oracle=f"""
    WITH {BASE}, {WORDS},
    sized AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                     md5(CAST(doc_id AS VARCHAR)) AS ok,
                     ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 8 AS bucket
              FROM w),
    laid AS (SELECT doc_id, n_tokens, bucket,
                    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY ok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tokens AS start
             FROM sized),
    packed AS (SELECT doc_id, n_tokens, bucket,
                      bucket * {1 << 40} + CAST(floor(start / 512) AS BIGINT)
                        AS seq_id,
                      CAST(start % 512 AS BIGINT) AS seq_offset,
                      CAST(start % 512 AS BIGINT) + n_tokens > 512 AS split
               FROM laid),
    per_seq AS (SELECT bucket, seq_id,
                       least(max(seq_offset + n_tokens), 512) AS used_tokens,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN split THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_split
                FROM packed GROUP BY bucket, seq_id)
    SELECT CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(used_tokens) AS BIGINT) AS used_tokens,
           CAST(count(*) * 512 AS BIGINT) AS capacity_tokens,
           CAST(sum(used_tokens) AS DOUBLE) / (count(*) * 512) AS fill_rate,
           CAST(sum(n_split) AS BIGINT) AS n_split_docs,
           CAST(sum(n_split) AS DOUBLE) / sum(n_docs) AS split_rate
    FROM per_seq
    """,
)
def q_packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utilization audit over the packed layout (operators/packing.py
    ::packing_efficiency_report): fill and split rates at budget 512 /
    8 buckets — partial-combinable end to end."""
    from gush_spark.functions.text_analysis import words_of
    from gush_spark.operators.packing import (
        pack_sequences,
        packing_efficiency_report,
    )

    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(words_of(F.col("text"))).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(sized, "doc_id", "n_tokens", budget=512, buckets=8)
    return packing_efficiency_report(packed, budget=512)


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS}, {CAND},
    shl AS (SELECT doc_id, {SHINGLE_LIST} AS shs FROM w WHERE len(ws) >= 3),
    {_JEDGES},
    sp AS (SELECT least(da.source, db.source) AS source_a,
                  greatest(da.source, db.source) AS source_b
           FROM jedges
           JOIN documents da ON da.doc_id = id_a
           JOIN documents db ON db.doc_id = id_b)
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM sp GROUP BY source_a, source_b
    """,
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror detection (operators/dedup.py::source_overlap_matrix):
    verified near-dup pairs at jaccard ≥ 0.6 rolled up to the unordered
    source×source overlap matrix."""
    docs = load(spark, sf_dir, "documents")
    return dedup.source_overlap_matrix(
        docs, "doc_id", "text", "source", threshold=0.6, spread=None
    )


@query(
    "hard_negatives_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec,
                      label AS query_label
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, q.query_label, v.vec_id AS neighbor_id,
             v.label AS neighbor_label,
             round({_cos_sql("q.q_vec", "v.embedding")}, 6) AS score
      FROM q JOIN embeddings v
        ON v.vec_id != q.query_id AND v.label != q.query_label)
    SELECT query_id, query_label, neighbor_id, neighbor_label, score,
           CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def q_hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py::hard_negatives):
    per query the 5 nearest different-label vectors — corpus never
    shuffles, label filter inside the broadcast join."""
    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    out = similarity.hard_negatives(vecs, queries_df, k=5)
    return out.select(
        "query_id", "query_label", "neighbor_id", "neighbor_label",
        "score", F.col("rank").cast("long").alias("rank"),
    )


@query(
    "cross_lingual_pairs",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
             round({_cos_sql("a.embedding", "bb.embedding")}, 6) AS cos_sim
      FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
      WHERE round({_cos_sql("a.embedding", "bb.embedding")}, 6) >= 0.3)
    SELECT id_a, id_b, da.lang AS lang_a, db.lang AS lang_b, cos_sim
    FROM pairs
    JOIN documents da ON da.doc_id = id_a
    JOIN documents db ON db.doc_id = id_b
    WHERE da.lang != db.lang
    """,
)
def q_cross_lingual_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidate mining (operators/similarity.py::
    cross_lingual_pairs): embedding near-dup pairs across different
    document languages — the alignment half of the near-dup pair
    stage."""
    vecs = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    return similarity.cross_lingual_pairs(vecs, docs, threshold=0.3)


@query(
    "bpe_pair_stats",
    oracle=f"""
    WITH {BASE}, {WORDS},
    tok AS (SELECT unnest(ws) AS word FROM w),
    wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tok
           WHERE word != '' GROUP BY word),
    pr AS (SELECT freq,
                  unnest(list_transform(generate_series(1, length(word) - 1),
                         i -> substring(word, i, 2))) AS pair
           FROM wf),
    pc AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pr
           WHERE length(pair) = 2 GROUP BY pair)
    SELECT pair, n, CAST(rank AS BIGINT) AS rank FROM (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rank
      FROM pc) WHERE rank <= 25
    """,
)
def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer prep (operators/bpe.py): top-25 BPE merge candidates —
    adjacent char-pair counts weighted by word frequency, the pair
    explosion bounded by vocabulary size."""
    from gush_spark.operators.bpe import bpe_pair_counts

    return bpe_pair_counts(load(spark, sf_dir, "documents"), k=25)


@query(
    "vocab_oov_report",
    oracle=f"""
    WITH {BASE}, {WORDS},
    tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
    tok2 AS (SELECT doc_id, word FROM tok WHERE word != ''),
    vc AS (SELECT word, CAST(count(*) AS BIGINT) AS n
           FROM tok2 GROUP BY word),
    vocab AS (SELECT word FROM vc ORDER BY n DESC, word LIMIT 500),
    rep AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov
            FROM tok2 t LEFT JOIN vocab v USING (word)
            GROUP BY t.doc_id)
    SELECT doc_id, n_tokens, n_oov,
           CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_ppm
    FROM rep
    """,
)
def q_vocab_oov_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc OOV rate against the corpus's own top-500 word vocab
    (operators/bpe.py::vocab_coverage) — the tokenizer-sizing coverage
    report. Vocabulary cut is deterministic (count desc, word asc —
    TakeOrderedAndProject, never a global sort); membership is one
    broadcast left join (the corpus never shuffles for the test); the
    per-doc fold is one doc-keyed agg; oov_ppm is truncating BIGINT on
    both engines."""
    from gush_spark.operators.bpe import vocab_coverage

    return vocab_coverage(
        load(spark, sf_dir, "documents"), "doc_id", "text", vocab_k=500
    )


@query(
    "curation_report_v3",
    oracle=f"""
    WITH {_EXPECT_SQL},
    gate AS (SELECT source, dup_rate > 0.05 AS source_flagged FROM report),
    {BASE}, {WORDS},
    tw AS (SELECT doc_id,
                  ('0x' || substring(md5('q0' || term), 1, 8))::BIGINT
                    % 2001 - 1000 AS wt
           FROM (SELECT doc_id, unnest(ws) AS term FROM w)
           WHERE term != ''),
    clf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(wt) AS BIGINT) AS score_scaled
            FROM tw GROUP BY doc_id),
    fp AS (SELECT doc_id, md5(norm) AS fingerprint,
                  row_number() OVER (PARTITION BY md5(norm)
                                     ORDER BY doc_id) AS fp_rank
           FROM base),
    j AS (SELECT d.doc_id, d.source,
                 g.source_flagged,
                 CAST(c.score_scaled AS DOUBLE) / (1000 * c.n_tokens) >= -0.02
                   AS clf_keep,
                 f.fp_rank = 1 AS is_canonical
          FROM documents d
          JOIN gate g ON d.source = g.source
          LEFT JOIN clf c ON d.doc_id = c.doc_id
          JOIN fp f ON d.doc_id = f.doc_id)
    SELECT doc_id, source, source_flagged,
           coalesce(clf_keep, FALSE) AS clf_keep, is_canonical,
           (NOT source_flagged) AND coalesce(clf_keep, FALSE)
             AND is_canonical AS kept
    FROM j
    """,
)
def q_curation_report_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-2 capstone composite: the per-source expectations gate
    (dup-rate threshold), the linear-classifier keep decision, and
    exact-dedup canonical rank chained into one per-doc audit row —
    the gates are broadcast-sized after their own aggs; the only
    corpus-keyed exchanges are the classifier's doc-keyed sum and the
    fingerprint rank."""
    from pyspark.sql import Window

    from gush_spark.functions.text_analysis import md5_fingerprint
    from gush_spark.operators.classifier import linear_scores
    from gush_spark.operators.validate import expectations_report

    docs = load(spark, sf_dir, "documents")
    gate = expectations_report(docs).select(
        "source", (F.col("dup_rate") > 0.05).alias("source_flagged")
    )
    clf = linear_scores(docs, threshold=-0.02).select(
        "doc_id", F.col("keep").alias("clf_keep")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    fp = docs.select(
        "doc_id", md5_fingerprint(F.col("text")).alias("fingerprint")
    ).select(
        "doc_id", (F.row_number().over(w) == 1).alias("is_canonical")
    )
    out = (
        docs.select("doc_id", "source")
        .join(F.broadcast(gate), "source")
        .join(clf, "doc_id", "left")
        .join(fp, "doc_id")
    )
    return out.select(
        "doc_id",
        "source",
        "source_flagged",
        F.coalesce("clf_keep", F.lit(False)).alias("clf_keep"),
        "is_canonical",
        (
            ~F.col("source_flagged")
            & F.coalesce("clf_keep", F.lit(False))
            & F.col("is_canonical")
        ).alias("kept"),
    )


# ---------------------------------------------------------------------------
# Crawler-trap detection: per-host volume-spike windows vs trailing baseline
# (operators/trending.py::volume_anomaly_windows; no reference analog — the
# reference never profiles its event sources, binlog/BinlogEvent.scala)
# ---------------------------------------------------------------------------
@query(
    "host_volume_anomalies",
    oracle="""
    WITH counted AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT user_id, window_start, n,
             CAST(count(n) OVER f AS BIGINT) AS hist_windows,
             CAST(sum(n) OVER f AS BIGINT) AS base_n,
             CAST(sum(n * n) OVER f AS BIGINT) AS base_sq
      FROM counted
      WINDOW f AS (PARTITION BY user_id ORDER BY window_start
                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
    SELECT user_id, window_start, n, hist_windows, base_n,
           CASE WHEN hist_windows > 0
                THEN CAST(n * hist_windows AS DOUBLE) / base_n END
             AS spike_ratio,
           (hist_windows >= 3
            AND n * hist_windows - base_n > 0
            AND n * hist_windows * 100 >= 150 * base_n
            AND (n * hist_windows - base_n) * (n * hist_windows - base_n)
                > 9 * (base_sq * hist_windows - base_n * base_n))
             AS is_anomaly
    FROM stats
    """,
)
def q_host_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-spike audit over the event stream, user as the url-host
    analog: 10-minute tumbling counts per user, each window tested
    against the user's trailing 6 active windows with the integer-exact
    z²-test (k=3σ) plus a 1.5× mean floor. Read-time finalize over the
    same additive counter state the streaming twin keeps."""
    from gush_spark.operators.trending import volume_anomaly_windows

    ev = load(spark, sf_dir, "events")
    counts = windows.windowed_agg(
        ev, windows.tumbling("ts", "10 minutes"), ["user_id"],
        [F.count(F.lit(1)).alias("n")],
    ).select(
        "user_id",
        F.col("window_start").cast("timestamp").cast("long").alias("window_start"),
        "n",
    )
    return volume_anomaly_windows(
        counts, "user_id",
        lookback=6, min_history=3, k_sq=9, min_ratio_pct=150,
    )


# ---------------------------------------------------------------------------
# Session path mining: the corpus-wide inventory of event sequences (the
# inverse of CEP's one-pattern-at-a-time matching, cep/Cep.scala) —
# operators/paths.py
# ---------------------------------------------------------------------------
@query(
    "session_path_counts",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 60 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessioned AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ), numbered AS (
      SELECT user_id, sess_id, event_type,
             row_number() OVER (PARTITION BY user_id, sess_id
                                ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id, sess_id) AS total
      FROM sessioned
    ), paths AS (
      SELECT user_id, sess_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM numbered WHERE rn <= 8 GROUP BY 1, 2
    ), counted AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM paths
      GROUP BY path
    )
    SELECT path, n_sessions,
           CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
                AS BIGINT) AS rnk
    FROM counted
    QUALIFY rnk <= 20
    """,
)
def q_session_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journeys: 60-minute-gap sessions, first 8 steps
    per session ordered by (ts, event_id), path frequency table via
    TakeOrderedAndProject."""
    from gush_spark.operators.paths import path_counts, session_paths

    ev = load(spark, sf_dir, "events")
    paths = session_paths(ev, gap_s=3600, max_steps=8)
    return path_counts(paths, k=20)


# ---------------------------------------------------------------------------
# Crawl-politeness gate, batch/replay form (operators/politeness.py) — the
# read-side twin of the streaming CEP rule streaming/cep.py::
# make_politeness_rule; wired into the streaming job as
# job.py --pipeline cep --politeness-quota
# ---------------------------------------------------------------------------
@query(
    "crawl_politeness_gate",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST((epoch_us(ts) // 86400000000) * 86400 AS BIGINT)
               AS window_start_s
      FROM events
    )
    SELECT user_id, event_id, window_start_s,
           CAST(row_number() OVER w - 1 AS BIGINT) AS seq_in_window,
           (row_number() OVER w <= 2) AS allowed
    FROM t
    WINDOW w AS (PARTITION BY user_id, window_start_s ORDER BY us, event_id)
    """,
)
def q_crawl_politeness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most 2 events per (user, day-window): every event with its
    within-window sequence number (0-based, µs-event-time order,
    event_id tie-break) and an allowed flag — ONE shuffle on
    (user, window), a single row_number, no joins."""
    from gush_spark.operators.politeness import politeness_gate

    ev = load(spark, sf_dir, "events")
    return politeness_gate(
        ev, "user_id", "ts", "event_id", quota=2, window_s=86400
    )


# ---------------------------------------------------------------------------
# Navigation-graph analytics (operators/graph.py): session co-visit
# transition edges + fixed-point integer PageRank — the link-structure
# view of the event stream (nodes = the page-id analog carried in
# props.k; edges = consecutive visits within a 60-minute session).
# ---------------------------------------------------------------------------
from gush_spark.operators.graph import pagerank_oracle_sql as _pr_sql  # noqa: E402

_COVISIT_EDGES_CTE = """
    flagged AS (
      SELECT user_id, ts, event_id,
             regexp_extract(props, '"k": ([0-9]+)', 1) AS node,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 60 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessioned AS (
      SELECT user_id, ts, event_id, node,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ), paired AS (
      SELECT node AS src,
             lead(node) OVER (PARTITION BY user_id, sess_id
                              ORDER BY ts, event_id) AS dst
      FROM sessioned
    ), edges AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS weight
      FROM paired WHERE dst IS NOT NULL GROUP BY src, dst
    )"""


@query(
    "covisit_pagerank",
    oracle=(
        "WITH "
        + _COVISIT_EDGES_CTE
        + ",\n"
        + _pr_sql("edges", iters=3)
        + "\nSELECT node, rank FROM _pr_r3"
    ),
)
def q_covisit_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the session co-visit graph: nodes are the page-id
    analog (props.k), edges are consecutive visits within a 60-minute
    session, 3 power iterations in scaled BIGINT (rank of 1.0 == 1e9;
    damping 0.85, dangling mass redistributed uniformly). Edge build is
    ONE user-keyed exchange; each iteration is one src-keyed equi-join
    + one dst-keyed agg, the join key constant across iterations."""
    from gush_spark.operators.graph import pagerank, transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    return pagerank(edges, iters=3).select(
        F.col("node"), F.col("rank")
    )


# ---------------------------------------------------------------------------
# Freshness-driven recrawl prioritization (operators/recrawl.py): the
# Cho & Garcia-Molina change-rate × staleness policy over the observed
# fetch history — the scheduling complement of the crawl/recrawl flows
# (operators/events.py F4/F5).
# ---------------------------------------------------------------------------
@query(
    "recrawl_priorities",
    oracle="""
    WITH obs AS (
      SELECT regexp_extract(props, '"k": ([0-9]+)', 1) AS page,
             epoch_us(ts) AS us,
             (event_type = 'purchase') AS changed
      FROM events
    ), per_key AS (
      SELECT page, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changes,
             max(us) AS last_us
      FROM obs GROUP BY page
    ), now_t AS (SELECT max(us) AS now_us FROM obs
    ), scored AS (
      SELECT page, n_obs, n_changes,
             CAST((n_changes * 1000000) // n_obs AS BIGINT)
               AS change_rate_ppm,
             CAST((now_us - last_us) // 1000000 AS BIGINT) AS staleness_s,
             CAST(((now_us - last_us) // 1000000)
                  * ((n_changes * 1000000) // n_obs) AS BIGINT) AS priority
      FROM per_key, now_t
    )
    SELECT page, n_obs, n_changes, change_rate_ppm, staleness_s, priority,
           CAST(row_number() OVER (ORDER BY priority DESC, page) AS BIGINT)
             AS rnk
    FROM scored
    QUALIFY rnk <= 25
    """,
)
def q_recrawl_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 recrawl candidates: per page (props.k), change rate in
    ppm (changes = purchase events, the content-diff analog) times
    staleness since last fetch relative to corpus-now — all BIGINT, one
    page-keyed partial-combinable agg + a 1-row broadcast scalar join,
    top-k via TakeOrderedAndProject."""
    from gush_spark.operators.recrawl import recrawl_priorities

    ev = load(spark, sf_dir, "events")
    obs = ev.select(
        F.regexp_extract("props", '"k": ([0-9]+)', 1).alias("page"),
        "ts",
        "event_type",
    )
    return recrawl_priorities(
        obs, "page", "ts", F.col("event_type") == F.lit("purchase"), k=25
    )


@query(
    "trusted_pagerank",
    oracle=(
        "WITH "
        + _COVISIT_EDGES_CTE
        + """, seeds AS (
      SELECT DISTINCT regexp_extract(props, '"k": ([0-9]+)', 1) AS node
      FROM events
      WHERE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)
            % 10 = 0
    ),
"""
        + _pr_sql("edges", iters=3, seeds_cte="seeds")
        + "\nSELECT node, rank FROM _pr_r3"
    ),
)
def q_trusted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the same co-visit graph: teleport and initial
    mass restricted to a deterministic trusted seed set (page-ids
    divisible by 10 — the curated-hub analog), so trust flows outward
    along observed journeys and spam regions unreachable from seeds
    converge to 0 — the propagation complement of the static
    domain-reputation gate (operators/domains.py)."""
    from gush_spark.operators.graph import pagerank, transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    seeds = (
        ev.select(F.col("_node").alias("node"))
        .filter(F.col("node").cast("long") % 10 == 0)
        .distinct()
    )
    return pagerank(edges, iters=3, seeds=seeds).select("node", "rank")


from gush_spark.operators.graph import hits_oracle_sql as _hits_sql  # noqa: E402


@query(
    "covisit_components",
    oracle=(
        "WITH RECURSIVE "
        + _COVISIT_EDGES_CTE
        + """, und AS (
      SELECT DISTINCT least(src, dst) AS id_a, greatest(src, dst) AS id_b
      FROM edges WHERE src <> dst AND weight >= 3
    ), nodes AS (
      SELECT id_a AS node FROM und UNION SELECT id_b FROM und
    ), bedges AS (
      SELECT id_a AS s, id_b AS d FROM und
      UNION ALL SELECT id_b, id_a FROM und
    ), walk(id, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.d, w2.lbl FROM walk w2 JOIN bedges e ON e.s = w2.id
    )
    SELECT id AS node, min(lbl) AS component_id FROM walk GROUP BY id"""
    ),
)
def q_covisit_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly connected components over the STRONGLY co-visited page
    graph (edges with >= 3 observed transitions — the weight floor is
    what makes components meaningful: the raw session graph is one
    giant component, the thresholded one splits into browse-cluster /
    site-section groups, the navigational analog of near-dup text
    clusters). Reuses min_label_components (near-dup/SemDeDup's
    engine): only edge-touched vertices ride the propagation, labels
    converge on the lexicographic-min reachable node id — exact in
    both engines, so the recursive-CTE DuckDB oracle is hash-exact."""
    from gush_spark.operators.dedup import min_label_components
    from gush_spark.operators.graph import transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    und = (
        edges.filter((F.col("src") != F.col("dst")) & (F.col("weight") >= 3))
        .select(
            F.least("src", "dst").alias("id_a"),
            F.greatest("src", "dst").alias("id_b"),
        )
        .distinct()
    )
    nodes = (
        und.select(F.col("id_a").alias("node"))
        .unionByName(und.select(F.col("id_b").alias("node")))
        .distinct()
    )
    return min_label_components(nodes, "node", und).select(
        "node", F.col("cluster_id").alias("component_id")
    )


@query(
    "covisit_hits",
    oracle=(
        "WITH "
        + _COVISIT_EDGES_CTE
        + ",\n"
        + _hits_sql("edges", iters=3)
        + """
    SELECT h.node, h.hub, a.auth
    FROM _hits_h3 h JOIN _hits_a3 a ON h.node = a.node"""
    ),
)
def q_covisit_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the same co-visit graph as
    covisit_pagerank: 3 mutual-reinforcement iterations in scaled
    BIGINT (per-half-step max pinned at 1e9 via overflow-safe
    ceil-divide normalization). Hubs rank the index/navigation pages a
    crawler refetches for discovery; authorities rank the content
    those hubs select — the two-sided complement of PageRank's single
    score. Each half-step is one src- or dst-keyed equi-join + one
    map-side-combinable agg over the persisted edge frame."""
    from gush_spark.operators.graph import hits, transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    return hits(edges, iters=3).select("node", "hub", "auth")


@query(
    "crawl_frontier_hops",
    oracle=(
        "WITH RECURSIVE "
        + _COVISIT_EDGES_CTE
        + """, bnodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), bseeds AS (
      SELECT node FROM bnodes WHERE CAST(node AS BIGINT) % 10 = 0
    ), walk(node, hops) AS (
      SELECT node, CAST(0 AS BIGINT) FROM bseeds
      UNION
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN edges e ON e.src = w.node WHERE w.hops < 4
    )
    SELECT node, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node"""
    ),
)
def q_crawl_frontier_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier depth: minimum journey-step distance from the
    trusted seed set (the trusted_pagerank seeds — page-ids divisible
    by 10) over the directed co-visit graph, capped at 4 hops. The
    discovery-budget complement of TrustRank: TrustRank says how much
    trust REACHES a page, frontier depth says how many fetch waves it
    takes to GET there — together they order a crawl schedule. Frontier
    BFS as iterated src-keyed equi-joins with set semantics (first
    reach IS the min distance), so the recursive-CTE DuckDB oracle is
    hash-exact; unreached nodes are absent by contract."""
    from gush_spark.operators.graph import bfs_hops, transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    seeds = (
        ev.select(F.col("_node").alias("node"))
        .filter(F.col("node").cast("long") % 10 == 0)
        .distinct()
    )
    return bfs_hops(edges, seeds, max_hops=4)


@query(
    "covisit_triangles",
    oracle=(
        "WITH "
        + _COVISIT_EDGES_CTE
        + """, und AS (
      SELECT DISTINCT least(src, dst) AS id_a, greatest(src, dst) AS id_b
      FROM edges WHERE src <> dst
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT id_a AS node FROM und UNION ALL SELECT id_b FROM und
      ) GROUP BY node
    ), tri AS (
      SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      FROM und e1
      JOIN und e2 ON e1.id_b = e2.id_a
      JOIN und e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ), per_node AS (
      SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT d.node, d.degree,
           CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN d.degree >= 2
                     THEN (2 * COALESCE(p.triangles, 0) * 1000000000)
                          // (d.degree * (d.degree - 1))
                     ELSE 0 END AS BIGINT) AS clustering_x1e9
    FROM deg d LEFT JOIN per_node p ON d.node = p.node"""
    ),
)
def q_covisit_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation + fixed-point local clustering
    coefficient over the undirected co-visit graph (raw edges, self
    loops dropped — triangles need the full co-visit structure, not the
    weight-thresholded skeleton components uses). Triangles measure
    browse-cluster DENSITY where components measure connectivity: a
    tight topic hub closes its wedges, a drive-by star does not.
    Ordered triple-join enumeration (a < b < c, each triangle once);
    clustering = (2·T·1e9) DIV (deg·(deg−1)) all-BIGINT, so the DuckDB
    oracle is hash-exact."""
    from gush_spark.operators.graph import transition_edges, triangle_counts

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("id_a"),
            F.greatest("src", "dst").alias("id_b"),
        )
        .distinct()
    )
    return triangle_counts(und)


@query(
    "covisit_reciprocity",
    oracle=(
        "WITH "
        + _COVISIT_EDGES_CTE
        + """, d AS (
      SELECT DISTINCT src, dst FROM edges WHERE src <> dst
    ), outs AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg
      FROM d GROUP BY src
    ), ins AS (
      SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg
      FROM d GROUP BY dst
    ), mut AS (
      SELECT d.src AS node, CAST(count(*) AS BIGINT) AS mutual
      FROM d JOIN d r ON d.src = r.dst AND d.dst = r.src
      GROUP BY d.src
    ), uni AS (
      SELECT src AS node FROM d UNION SELECT dst FROM d
    )
    SELECT u.node,
           CAST(COALESCE(o.out_deg, 0) AS BIGINT) AS out_deg,
           CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg,
           CAST(COALESCE(m.mutual, 0) AS BIGINT) AS mutual,
           CAST(CASE WHEN COALESCE(o.out_deg, 0) > 0
                     THEN COALESCE(m.mutual, 0) * 1000000000
                          // o.out_deg
                     ELSE 0 END AS BIGINT) AS reciprocity_x1e9
    FROM uni u
    LEFT JOIN outs o ON u.node = o.node
    LEFT JOIN ins i ON u.node = i.node
    LEFT JOIN mut m ON u.node = m.node"""
    ),
)
def q_covisit_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node navigation symmetry over the directed co-visit graph:
    out/in degree (distinct neighbors), mutual count (out-neighbors
    that also link back), and fixed-point reciprocity
    ``mutual·1e9 DIV out_deg``. High reciprocity marks genuine
    back-and-forth browsing (content hubs, paginated series); near-zero
    reciprocity on high out-degree marks funnel/redirect pages — a
    crawler-trap and boilerplate-navigation signal that complements
    triangles (density) and HITS (role separation). One distinct pass,
    one self-equi-join on the reversed pair, three degree aggs — node
    ids only on the wire, all BIGINT so the oracle is hash-exact."""
    from gush_spark.operators.graph import reciprocity, transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    return reciprocity(transition_edges(ev, node_col="_node", gap_s=3600))


from gush_spark.operators.graph import (  # noqa: E402
    kcore_oracle_sql as _kc_sql,
    hash_walks_oracle_sql as _hw_sql,
)


@query(
    "covisit_kcore",
    oracle=(
        "WITH "
        + _COVISIT_EDGES_CTE
        + """, und AS (
      SELECT DISTINCT least(src, dst) AS id_a, greatest(src, dst) AS id_b
      FROM edges WHERE src <> dst
    ),
"""
        + _kc_sql("und", k=12, rounds=4)
        + "\nSELECT node, degree FROM _kc_a4"
    ),
)
def q_covisit_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-core of the co-visited page graph (undirected, self-loops
    dropped): iterative peel of nodes with fewer than 12 surviving
    neighbors, 4 rounds with fixpoint early-exit — each round strips
    the weakly-embedded fringe and lowers the degrees of what remains,
    so the survivor set shrinks round over round until only the
    densely inter-browsed core is left. The core that survives peeling
    is the link-farm / well-embedded-hub signal — the global-density
    complement of triangles (local density) and components
    (connectivity). Per round one degree agg + two semi-joins, node
    ids only on the wire."""
    from gush_spark.operators.graph import kcore, transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("id_a"),
            F.greatest("src", "dst").alias("id_b"),
        )
        .distinct()
    )
    return kcore(und, k=12, rounds=4)


from gush_spark.operators.graph import (  # noqa: E402
    label_prop_oracle_sql as _lp_sql,
)


@query(
    "covisit_communities",
    oracle=(
        "WITH "
        + _COVISIT_EDGES_CTE
        + """, undw AS (
      SELECT least(src, dst) AS id_a, greatest(src, dst) AS id_b,
             CAST(sum(weight) AS BIGINT) AS w
      FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
"""
        + _lp_sql("undw", iters=4)
        + "\nSELECT node, label FROM _lp_l4"
    ),
)
def q_covisit_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Browse-topic communities by synchronous label propagation
    (Raghavan et al. 2007) over the weighted undirected co-visit graph
    (self-loops dropped, both directions folded into one weight): 4
    rounds of adopt-the-heaviest-neighbor-label with min-label
    tie-break (deterministic — no random tie-break), fixpoint
    early-exit. The unsupervised density complement of
    covisit_components' threshold connectivity. Per round one
    src-keyed equi-join + two map-side-combinable aggs
    (min(struct(-w_sum, label)) argmax — no row_number window); only
    node ids cross the wire."""
    from gush_spark.operators.graph import label_propagation, transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    undw = (
        edges.filter(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("id_a"),
            F.greatest("src", "dst").alias("id_b"),
        )
        .agg(F.sum("weight").alias("w"))
    )
    return label_propagation(undw, iters=4)


@query(
    "covisit_walks",
    oracle=(
        "WITH "
        + _COVISIT_EDGES_CTE
        + """, bnodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), bseeds AS (
      SELECT node FROM bnodes WHERE CAST(node AS BIGINT) % 10 = 0
    ),
"""
        + _hw_sql("edges", "bseeds", steps=4)
        + "\nSELECT start, s1, s2, s3, s4 FROM _hw_w4"
    ),
)
def q_covisit_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-step DeepWalk corpus from the trusted-hub seed
    set (page-ids % 10 == 0, the frontier-hops convention) over the
    directed co-visit graph: each hop goes to the out-neighbor
    minimizing md5(cur|step|dst) — reproducible walk sequences for
    graph-embedding training prep, NULL-padded where a walk leaves the
    graph. Per step one src-keyed equi-join + one map-side-combinable
    struct-min argmin; no window sort, no randomness."""
    from gush_spark.operators.graph import hash_walks, transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node").cast("long") % 10 == 0)
    return hash_walks(edges, seeds, steps=4)


@query(
    "ccnet_ppl_buckets",
    oracle=f"""
    WITH {BASEL}, {WLANG},
    refbg AS (SELECT unnest({_BG_LIST}) AS gk FROM wlang WHERE lang = 'en'),
    refctx AS (SELECT unnest({_CTX_LIST}) AS h1 FROM wlang WHERE lang = 'en'),
    model AS (SELECT gk, count(*) AS c FROM refbg GROUP BY gk),
    ctx AS (SELECT h1, count(*) AS cc FROM refctx GROUP BY h1),
    vocab AS (SELECT count(DISTINCT u) AS V
              FROM (SELECT unnest({_UG_LIST}) AS u FROM wlang WHERE lang = 'en')),
    docbg AS (SELECT doc_id, unnest({_BG_LIST}) AS gk, unnest({_CTX_LIST}) AS h1
              FROM wlang),
    scored AS (
      SELECT doc_id, count(*) AS n,
             sum(((coalesce(c, 0) + 1) * 1000000000) // (coalesce(cc, 0) + V))
               AS s
      FROM docbg LEFT JOIN model USING (gk) LEFT JOIN ctx USING (h1)
      CROSS JOIN vocab
      GROUP BY doc_id),
    means AS (
      SELECT d.doc_id, d.source,
             CAST(CASE WHEN coalesce(n, 0) > 0 THEN s // n ELSE 0 END
                  AS BIGINT) AS mean_p9
      FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id)
    SELECT doc_id, source, mean_p9,
           CAST(ntile(3) OVER w AS BIGINT) AS bucket,
           CASE ntile(3) OVER w WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket_label
    FROM means
    WINDOW w AS (PARTITION BY source ORDER BY mean_p9 DESC, doc_id)
    """,
)
def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail selection (Wenzek et al., LREC 2020): mean
    in-domain bigram likelihood per doc (the lm_likelihood_scores model,
    exact fixed point — sum_p9 DIV n_bigrams, 0 when a doc has no
    bigrams) bucketed into per-SOURCE tertiles by ntile over
    (likelihood DESC, doc_id) — the published curation move of keeping
    'head' (most in-domain) text per origin rather than a single global
    cut that would empty low-resource sources. One window sort per
    source on an already-reduced (doc_id, source, mean) frame — the
    corpus text never enters the sort; for mega-sources the sort-free
    decile alternative (quality_decile_assignment's histogram form)
    applies unchanged."""
    from pyspark.sql import Window
    from gush_spark.operators import lm

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en")
    model, ctx, vocab = lm.train_bigram_lm(ref, "doc_id", "text")
    scores = lm.score_with_bigram_lm(
        docs, model, ctx, vocab, "doc_id", "text"
    )
    means = docs.select("doc_id", "source").join(
        scores.select("doc_id", "n_bigrams", "sum_p9"), on="doc_id"
    ).select(
        "doc_id",
        "source",
        F.when(
            F.col("n_bigrams") > 0, F.expr("sum_p9 DIV n_bigrams")
        ).otherwise(F.lit(0)).cast("long").alias("mean_p9"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("mean_p9").desc(), F.col("doc_id")
    )
    bucket = F.ntile(3).over(w)
    return means.select(
        "doc_id", "source", "mean_p9",
        bucket.cast("long").alias("bucket"),
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket_label"),
    )


@query(
    "corpus_drift_report",
    oracle=f"""
    WITH o AS (
      SELECT source, least(length({NORM}) // 32, 15) AS b
      FROM (SELECT source,
                   CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END
                     AS text
            FROM documents WHERE doc_id % 11 <> 0)
    ), n AS (
      SELECT source, least(length({NORM}) // 32, 15) AS b
      FROM documents WHERE doc_id % 13 <> 0
    ), oc AS (SELECT source, b, count(*) AS c_old FROM o GROUP BY 1, 2
    ), nc AS (SELECT source, b, count(*) AS c_new FROM n GROUP BY 1, 2
    ), ot AS (SELECT source, count(*) AS n_old FROM o GROUP BY 1
    ), nt AS (SELECT source, count(*) AS n_new FROM n GROUP BY 1
    ), al AS (
      SELECT COALESCE(oc.source, nc.source) AS source,
             coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
      FROM oc FULL OUTER JOIN nc
        ON oc.source = nc.source AND oc.b = nc.b
    ), tt AS (
      SELECT COALESCE(ot.source, nt.source) AS source,
             coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
      FROM ot FULL OUTER JOIN nt ON ot.source = nt.source
    )
    SELECT source,
           CAST(max(n_old) AS BIGINT) AS n_old,
           CAST(max(n_new) AS BIGINT) AS n_new,
           CAST(sum(abs(
             CASE WHEN n_old > 0 THEN c_old * 1000000000 // n_old ELSE 0 END
             - CASE WHEN n_new > 0 THEN c_new * 1000000000 // n_new ELSE 0 END
           )) AS BIGINT) AS drift_x1e9
    FROM al JOIN tt USING (source)
    GROUP BY source
    """,
)
def q_corpus_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift between the two synthetic snapshot
    versions (operators/snapshot.drift_report): fixed-point L1 distance
    between old/new normalized-length histograms — the shape-change
    monitor next to snapshot_diff's membership delta. Histograms only
    on the wire; documents never cross an exchange."""
    from gush_spark.operators import snapshot

    old, new = _snapshot_views(spark, sf_dir)
    return snapshot.drift_report(old, new, "source", "text")


_FUNNEL_H_US = 86400 * 1_000_000


@query(
    "funnel_conversion",
    oracle=f"""
    WITH s0 AS (
      SELECT user_id AS u, min(epoch_us(ts)) AS done
      FROM events WHERE event_type = 'view' GROUP BY 1
    ), s1 AS (
      SELECT e.user_id AS u, min(epoch_us(e.ts)) AS done
      FROM events e JOIN s0 ON e.user_id = s0.u
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) > s0.done
        AND epoch_us(e.ts) <= s0.done + {_FUNNEL_H_US}
      GROUP BY 1
    ), s2 AS (
      SELECT e.user_id AS u, min(epoch_us(e.ts)) AS done
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > s1.done
        AND epoch_us(e.ts) <= s1.done + {_FUNNEL_H_US}
      GROUP BY 1
    ), c AS (
      SELECT (SELECT count(*) FROM s0) AS n0,
             (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2
    )
    SELECT CAST(0 AS BIGINT) AS stage, 'view' AS stage_name,
           CAST(n0 AS BIGINT) AS n_users,
           CAST(NULL AS BIGINT) AS conv_from_prev_ppm,
           CAST(CASE WHEN n0 > 0 THEN 1000000 END AS BIGINT)
             AS conv_from_first_ppm
    FROM c
    UNION ALL
    SELECT 1, 'click', CAST(n1 AS BIGINT),
           CAST(CASE WHEN n0 > 0 THEN n1 * 1000000 // n0 END AS BIGINT),
           CAST(CASE WHEN n0 > 0 THEN n1 * 1000000 // n0 END AS BIGINT)
    FROM c
    UNION ALL
    SELECT 2, 'purchase', CAST(n2 AS BIGINT),
           CAST(CASE WHEN n1 > 0 THEN n2 * 1000000 // n1 END AS BIGINT),
           CAST(CASE WHEN n0 > 0 THEN n2 * 1000000 // n0 END AS BIGINT)
    FROM c
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch view→click→purchase funnel with a 1-day per-step
    horizon (operators/events.funnel_conversion): per-stage user counts
    and exact integer-ppm conversions — the N-stage generalization of
    sequence_pattern_within's A→B check. Each stage is one min-agg over
    a shrinking user-keyed frame; no window sort."""
    from gush_spark.operators.events import funnel_conversion

    ev = load(spark, sf_dir, "events")
    return funnel_conversion(
        ev, ["view", "click", "purchase"], step_horizon_s=86400
    )


@query(
    "cohort_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d
      FROM events),
    coh AS (SELECT user_id, min(d) AS c FROM act GROUP BY user_id)
    SELECT c.c AS cohort_bucket, CAST(a.d - c.c AS BIGINT) AS age,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act a JOIN coh c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix (operators/events.py::
    cohort_retention): users bucketed by first-activity day, counted in
    each later active day — pure-BIGINT µs-precision day buckets, one
    (user, day) distinct + a user-keyed min-agg + user-keyed join all
    sharing one partitioning; raw events cross exactly one exchange."""
    from gush_spark.operators.events import cohort_retention

    return cohort_retention(load(spark, sf_dir, "events"))


_TRIGRAM_LIST = (
    "CASE WHEN length(norm) >= 3 THEN "
    "list_transform(generate_series(1, length(norm) - 2), "
    "i -> substring(norm, i, 3)) ELSE [] END"
)
_LANGID_LANGS = ["de", "en", "es", "fr", "zh"]


@query(
    "trigram_lang_id",
    oracle=f"""
    WITH {BASEL},
    tg AS (SELECT lang, unnest({_TRIGRAM_LIST}) AS tg FROM basel),
    cnt AS (SELECT lang, tg, count(*) AS c FROM tg GROUP BY 1, 2),
    prof AS (
      SELECT lang, tg FROM cnt
      QUALIFY row_number() OVER (PARTITION BY lang ORDER BY c DESC, tg)
              <= {'{}'.format(64)}
    ),
    dtg AS (SELECT doc_id, unnest(list_distinct({_TRIGRAM_LIST})) AS tg
            FROM basel),
    hits AS (SELECT d.doc_id, p.lang FROM dtg d JOIN prof p USING (tg)),
    sc AS (
      SELECT doc_id,
             {", ".join(
                 f"sum(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS s_{L}"
                 for L in _LANGID_LANGS)}
      FROM hits GROUP BY doc_id
    ), filled AS (
      SELECT d.doc_id,
             {", ".join(
                 f"CAST(coalesce(s_{L}, 0) AS BIGINT) AS score_{L}"
                 for L in _LANGID_LANGS)}
      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    )
    SELECT doc_id, {", ".join(f"score_{L}" for L in _LANGID_LANGS)},
           CASE WHEN greatest({", ".join(f"score_{L}" for L in _LANGID_LANGS)}) <= 0
                THEN NULL
                {" ".join(
                    f"WHEN score_{L} = greatest("
                    + ", ".join(f"score_{M}" for M in _LANGID_LANGS)
                    + f") THEN '{L}'" for L in _LANGID_LANGS)}
           END AS pred_lang
    FROM filled
    """,
)
def q_trigram_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar-Trenkle character-trigram language-ID
    (operators/langid.py): per-language top-64 trigram profiles trained
    on the labeled lang column (deterministic count-desc/trigram-asc
    rank), every doc scored by distinct-trigram profile overlap (exact
    BIGINT) with lang-ascending argmax and an explicit NULL verdict
    when nothing matches. Training never puts the corpus through a
    window (only counted profile candidates); scoring is one explode +
    broadcast join + conditional counts. Catalog form trains and scores
    on the same corpus slice (the held-out split at scale is
    grouped_split_sample's job)."""
    from gush_spark.operators import langid

    docs = langid.with_norm(load(spark, sf_dir, "documents"))
    profiles = langid.trigram_profiles(docs)
    return langid.trigram_lang_scores(docs, profiles, _LANGID_LANGS)


@query(
    "crawl_budget_apportionment",
    oracle="""
    WITH wts AS (
      SELECT source AS key, CAST(count(*) AS BIGINT) AS wt
      FROM documents GROUP BY source
    ), t AS (SELECT sum(wt) AS tw FROM wts
    ), j AS (
      SELECT key, wt,
             CAST(997 * wt // tw AS BIGINT) AS base_alloc,
             CAST(997 * wt % tw AS BIGINT) AS rem
      FROM wts, t
    ), s AS (
      SELECT *,
             997 - sum(base_alloc) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, key) AS rnk
      FROM j
    )
    SELECT key AS source, wt AS weight, base_alloc,
           CAST(CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           CAST(base_alloc
                + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM s
    """,
)
def q_crawl_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder apportionment of a 997-slot global
    fetch budget across sources weighted by document count
    (operators/budget.py): exact BIGINT floor shares + remainder-ranked
    +1s, Σ alloc == budget always — the per-cycle slot allocator ahead
    of the politeness rate gate and the recrawl priority ranking. The
    remainder ranking is one window over the HOST-level frame (sources
    here), never the corpus."""
    from gush_spark.operators.budget import apportion_budget

    docs = load(spark, sf_dir, "documents")
    w = docs.groupBy(F.col("source").alias("host")).agg(
        F.count(F.lit(1)).alias("weight")
    )
    return apportion_budget(w, 997, key_col="host", weight_col="weight").select(
        F.col("host").alias("source"), "weight", "base_alloc", "extra", "alloc"
    )


@query(
    "collocation_pmi",
    oracle=f"""
    WITH {BASE}, {WORDS},
    prs AS (
      SELECT unnest(list_transform(generate_series(1, len(ws)-1),
             i -> [ws[i], ws[i+1]])) AS pr
      FROM w WHERE len(ws) >= 2),
    pc AS (
      SELECT pr[1] AS w1, pr[2] AS w2, CAST(count(*) AS BIGINT) AS pair_count
      FROM prs WHERE pr[1] != '' AND pr[2] != ''
      GROUP BY 1, 2),
    m AS (
      SELECT w1, w2, pair_count,
             CAST(sum(pair_count) OVER (PARTITION BY w1) AS BIGINT)
               AS left_count,
             CAST(sum(pair_count) OVER (PARTITION BY w2) AS BIGINT)
               AS right_count,
             CAST(sum(pair_count) OVER () AS BIGINT) AS total_pairs
      FROM pc)
    SELECT w1, w2, pair_count, left_count, right_count, total_pairs,
           CAST(pair_count * total_pairs * 1000000
                // (left_count * right_count) AS BIGINT) AS lift_scaled
    FROM m WHERE pair_count >= 5
    ORDER BY lift_scaled DESC, pair_count DESC, w1, w2
    LIMIT 200
    """,
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 collocations by exact fixed-point PMI lift
    (operators/keywords.py::collocation_lift — Church & Hanks 1990):
    map-only bigram slots collapse straight into a (w1, w2)-keyed
    count, margins are window sums over the reduced pair frame (never
    the corpus), the grand total rides a 1-row broadcast, and the one
    division is truncating BIGINT on both engines. Top-k is
    orderBy+limit — TakeOrderedAndProject, never a global sort."""
    from gush_spark.operators.keywords import collocation_lift

    docs = load(spark, sf_dir, "documents")
    return collocation_lift(docs, "doc_id", "text", min_count=5, k=200)


@query(
    "heavy_hitter_trigrams",
    oracle=f"""
    WITH {BASE}, {WORDS},
    tg AS (SELECT unnest(list_transform(generate_series(1, len(ws)-2),
           i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS gram
           FROM w WHERE len(ws) >= 3),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total_slots FROM tg)
    SELECT gram, CAST(count(*) AS BIGINT) AS n, t.total_slots,
           CAST(count(*) * 1000000 // t.total_slots AS BIGINT) AS share_scaled
    FROM tg, t GROUP BY gram, t.total_slots
    HAVING count(*) * 4000 > t.total_slots
    """,
)
def q_heavy_hitter_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigrams above a 1/4000 corpus share
    (operators/heavy_hitters.py): pass 1 is a bounded-memory
    Misra-Gries summary per partition (mapInPandas, vectorized batch
    merges) emitting ≤ m candidates + slot totals; pass 2 exact-counts
    the candidate set behind a broadcast semi-join. The n-gram universe
    never crosses a shuffle — the 10^12-page answer to "top phrases of
    the crawl" where groupBy(gram) would exchange an n-gram universe
    the size of the corpus. Output is partition-invariant and equals
    the plain GROUP BY / HAVING the oracle runs (MG survival guarantee
    + exact re-count)."""
    from gush_spark.operators.heavy_hitters import heavy_hitter_ngrams

    docs = load(spark, sf_dir, "documents")
    return heavy_hitter_ngrams(docs, "doc_id", "text", n=3, inv_share=4000)


# ---------------------------------------------------------------------------
# hyperlink extraction → host link graph (operators/links.py)
# ---------------------------------------------------------------------------
# Driver-checkable harness for the link family: pages are synthesized
# DETERMINISTICALLY from the documents table (same convention as
# multimodal_blob_features' blobs) — each doc becomes one page whose
# html carries (a) one absolute link per of its first 3 clean words to
# http://{word}.example, (b) one protocol-relative link to
# //cdn.example, (c) one root-relative /about link, and (d) three
# non-fetchable junk links that must be dropped. The Spark side renders
# real html and runs the real regexp extraction; the oracle derives the
# expected edges INDEPENDENTLY from the word lists, never touching
# html — a mismatch catches extraction bugs, not shared synthesis bugs.
_LINK_WW = (
    "list_slice(list_filter(string_split(norm, ' '), "
    "x -> regexp_matches(x, '^[a-z0-9]+$')), 1, 3)"
)
_LINK_BASE = f"lbase AS (SELECT doc_id, source, {NORM} AS norm FROM documents)"
_LINK_W = (
    f"w AS (SELECT doc_id, source || '.example' AS src_host, {_LINK_WW} AS ww "
    f"FROM lbase)"
)
_LINK_EDGES = (
    "le AS ("
    "SELECT doc_id, src_host, unnest(list_transform(ww, x -> x || '.example')) "
    "AS dst_host FROM w "
    "UNION ALL SELECT doc_id, src_host, 'cdn.example' FROM w "
    "UNION ALL SELECT doc_id, src_host, src_host FROM w)"
)


def _synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = ta.norm_text(F.col("text"))
    ww = F.slice(
        F.filter(ta.words_of(F.col("text")), lambda w: w.rlike("^[a-z0-9]+$")),
        1,
        3,
    )
    word_tags = F.array_join(
        F.transform(
            ww,
            lambda w: F.concat(
                F.lit('<A HREF="http://'),
                w,
                F.lit('.example/x">'),
                w,
                F.lit(" </A>"),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<html><body>"),
        word_tags,
        # template variant: every 5th page carries a promo block (no
        # href — invisible to the link oracles, visible to the
        # structure fingerprint)
        F.when(
            F.col("doc_id") % 5 == 0, F.lit('<div class="promo">offer</div>')
        ).otherwise(F.lit("")),
        F.lit(
            '<a href="//cdn.example/lib.js">cdn</a>'
            '<a href="/about">about</a>'
            '<a href="#top">top</a>'
            '<a href="mailto:x@y.example">mail</a>'
            '<a href="javascript:void(0)">js</a><p>'
        ),
        norm,
        F.lit("</p></body></html>"),
    )
    url = F.concat(
        F.lit("https://WWW."),
        F.col("source"),
        F.lit(".example:443/p/"),
        F.col("doc_id").cast("string"),
    )
    return docs.select(
        "doc_id", url.alias("url"), html.alias("html")
    )


@query(
    "link_host_graph",
    oracle=f"""
    WITH {_LINK_BASE}, {_LINK_W}, {_LINK_EDGES}
    SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
    FROM le GROUP BY src_host, dst_host
    """,
)
def q_link_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host→host edge frame from REAL href extraction over rendered
    html (operators/links.py::host_link_graph): regexp tag scan →
    explode → URL resolution (absolute / protocol-relative / relative /
    junk-dropped, with www./port folding on both the page url and the
    href) → one (src,dst)-keyed count. The html column dies at the
    explode's child projection; only hosts cross the single exchange.
    The oracle reconstructs the expected edges from the word lists
    without ever rendering html — independent-derivation check."""
    from gush_spark.operators import links as L

    return L.host_link_graph(
        _synth_pages(spark, sf_dir), "url", "html", page_id_col="doc_id"
    )


@query(
    "link_degree_report",
    oracle=f"""
    WITH {_LINK_BASE}, {_LINK_W}, {_LINK_EDGES},
    e AS (SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
          FROM le GROUP BY 1, 2)
    SELECT host, CAST(sum(out_links) AS BIGINT) AS out_links,
           CAST(sum(in_links) AS BIGINT) AS in_links,
           CAST(count(DISTINCT out_nbr) AS BIGINT) AS out_hosts,
           CAST(count(DISTINCT in_nbr) AS BIGINT) AS in_hosts
    FROM (
      SELECT src_host AS host, n_links AS out_links, 0 AS in_links,
             dst_host AS out_nbr, NULL AS in_nbr FROM e
      UNION ALL
      SELECT dst_host, 0, n_links, NULL, src_host FROM e)
    GROUP BY host
    """,
)
def q_link_degree_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host in/out degree over the extracted edge frame
    (operators/links.py::link_degree_report): the edge frame is unioned
    into (host, role) records and aggregated ONCE — a single host-keyed
    shuffle, no self-join of two grouped frames. Hub detection, link-
    spam ratios (out≫in) and frontier sizing all read from this one
    pass."""
    from gush_spark.operators import links as L

    edges = L.host_link_graph(_synth_pages(spark, sf_dir), "url", "html")
    return L.link_degree_report(edges)


@query(
    "anchor_text_topk",
    oracle=f"""
    WITH {_LINK_BASE}, {_LINK_W},
    acand AS (
      SELECT x || '.example' AS dst_host, x AS anchor
      FROM (SELECT unnest(ww) AS x FROM w)
      UNION ALL SELECT 'cdn.example', 'cdn' FROM w
      UNION ALL SELECT src_host, 'about' FROM w),
    ac AS (SELECT dst_host, anchor, CAST(count(*) AS BIGINT) AS n
           FROM acand GROUP BY 1, 2)
    SELECT dst_host, anchor, n, rnk FROM (
      SELECT dst_host, anchor, n,
             CAST(row_number() OVER (
               PARTITION BY dst_host ORDER BY n DESC, anchor) AS BIGINT) AS rnk
      FROM ac)
    WHERE rnk <= 3
    """,
)
def q_anchor_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 anchor texts per destination host
    (operators/links.py::anchor_text_topk) — the anchor signal: how the
    web describes a page, independent of the page's own words. Anchor
    whitespace is collapsed at extraction; tie-break (n desc, anchor
    asc) is engine-stable; the rank<=k filter compiles to
    WindowGroupLimit so only k rows per host per partition reach the
    window exchange."""
    from gush_spark.operators import links as L

    lnk = L.extract_links(_synth_pages(spark, sf_dir), "url", "html")
    return L.anchor_text_topk(lnk, k=3)


@query(
    "link_pagerank",
    oracle=(
        "WITH "
        + _LINK_BASE
        + ", "
        + _LINK_W
        + ", "
        + _LINK_EDGES
        + ",\n    e AS (SELECT src_host AS src, dst_host AS dst, "
        "CAST(count(*) AS BIGINT) AS weight FROM le GROUP BY 1, 2),\n"
        + _pr_sql("e", iters=3)
        + "\nSELECT node, rank FROM _pr_r3"
    ),
)
def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the REAL hyperlink graph — host_link_graph's
    extracted edges feed the same fixed-point integer recurrence as
    covisit_pagerank (operators/graph.py::pagerank: scaled BIGINT,
    damping 0.85, dangling mass redistributed; bit-reproducible across
    partitionings). This is the classic crawl-ranking composition:
    html → links → host graph → rank, all JVM, the raw html never
    crossing an exchange and each iteration one src-keyed equi-join +
    one dst-keyed agg on the reduced host×host frame."""
    from gush_spark.operators import links as L
    from gush_spark.operators.graph import pagerank

    edges = (
        L.host_link_graph(_synth_pages(spark, sf_dir), "url", "html")
        .select(
            F.col("src_host").alias("src"),
            F.col("dst_host").alias("dst"),
            F.col("n_links").alias("weight"),
        )
    )
    return pagerank(edges, iters=3).select("node", "rank")


@query(
    "weighted_sample_topk",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           ('0x' || substring(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             // greatest(n_chars, 1) AS priority
    FROM documents
    ORDER BY priority, doc_id
    LIMIT 100
    """,
)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sampling (priority sampling /
    the integer form of Efraimidis-Spirakis exponential keys): each doc
    draws a 60-bit uniform from md5(salt|id) and gets priority
    u div max(weight,1); the k SMALLEST priorities are the sample. For
    k << n the min-tail of u/w is the exponential-clock regime, so
    inclusion probability is ∝ weight (here n_chars — length-biased
    selection for packing-efficient training mixes), while staying
    integer-exact, partition-invariant and reproducible across engines
    and retries — no rand(), no seed drift. Plan shape: map-only
    priority + TakeOrderedAndProject(k) — no global sort, no shuffle of
    the corpus."""
    docs = load(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            u.alias("_u"),
            F.greatest(F.col("n_chars").cast("long"), F.lit(1).cast("long")).alias(
                "_w"
            ),
        )
        .selectExpr("doc_id", "weight", "_u div _w AS priority")
        .orderBy("priority", "doc_id")
        .limit(100)
    )


@query(
    "lang_confusion_matrix",
    oracle=f"""
    WITH {BASEL},
    tg AS (SELECT lang, unnest({_TRIGRAM_LIST}) AS tg FROM basel),
    cnt AS (SELECT lang, tg, count(*) AS c FROM tg GROUP BY 1, 2),
    prof AS (
      SELECT lang, tg FROM cnt
      QUALIFY row_number() OVER (PARTITION BY lang ORDER BY c DESC, tg) <= 64
    ),
    dtg AS (SELECT doc_id, unnest(list_distinct({_TRIGRAM_LIST})) AS tg
            FROM basel),
    hits AS (SELECT d.doc_id, p.lang FROM dtg d JOIN prof p USING (tg)),
    sc AS (
      SELECT doc_id,
             {", ".join(
                 f"sum(CASE WHEN lang = '{L}' THEN 1 ELSE 0 END) AS s_{L}"
                 for L in _LANGID_LANGS)}
      FROM hits GROUP BY doc_id
    ), pred AS (
      SELECT d.doc_id, d.lang,
             CASE WHEN greatest({", ".join(
                 f"coalesce(s_{L}, 0)" for L in _LANGID_LANGS)}) <= 0
                  THEN NULL
                  {" ".join(
                      f"WHEN coalesce(s_{L}, 0) = greatest("
                      + ", ".join(f"coalesce(s_{M}, 0)" for M in _LANGID_LANGS)
                      + f") THEN '{L}'" for L in _LANGID_LANGS)}
             END AS pred_lang
      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    ), conf AS (
      SELECT lang AS true_lang, coalesce(pred_lang, 'und') AS pred_lang,
             CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    )
    SELECT true_lang, pred_lang, n,
           CAST(n * 1000000 // sum(n) OVER (PARTITION BY true_lang)
                AS BIGINT) AS share_ppm
    FROM conf
    """,
)
def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the trigram language-ID against the labeled
    lang column — the eval twin of trigram_lang_id (same profiles, same
    scorer; knn_label_agreement's role for the text classifier).
    share_ppm is the per-true-language row distribution in truncating
    BIGINT ppm. Scale shape: the prediction frame is id-keyed-joined to
    the labels once, then everything is a rollup over a
    languages×languages frame; the ppm window runs on that reduced
    frame only."""
    from gush_spark.operators import langid

    docs = langid.with_norm(load(spark, sf_dir, "documents"))
    profiles = langid.trigram_profiles(docs)
    scored = langid.trigram_lang_scores(docs, profiles, _LANGID_LANGS)
    conf = (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy(
            F.col("lang").alias("true_lang"),
            F.coalesce(F.col("pred_lang"), F.lit("und")).alias("pred_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("true_lang")
    return conf.withColumn("_tot", F.sum("n").over(w)).selectExpr(
        "true_lang",
        "pred_lang",
        "n",
        "CAST(n * 1000000 div _tot AS LONG) AS share_ppm",
    )


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {BASE}, {WORDS}, {SHINGLES}, {HASHED}, {SIGS}, {BANDS}, {CAND},
    shl AS (SELECT doc_id, {SHINGLE_LIST} AS shs FROM w WHERE len(ws) >= 3),
    p AS (
      SELECT CAST(len(list_intersect(x.shs, y.shs)) AS BIGINT) AS i,
             CAST(len(list_distinct(list_concat(x.shs, y.shs))) AS BIGINT) AS u
      FROM cand JOIN shl x ON x.doc_id = id_a JOIN shl y ON y.doc_id = id_b),
    b AS (SELECT least(i * 10 // u, 9) AS bucket FROM p),
    h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
          FROM b GROUP BY bucket)
    SELECT CAST(bucket AS BIGINT) AS bucket, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT)
             AS pairs_at_or_above
    FROM h
    """,
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning report
    (operators/dedup.py::jaccard_threshold_sweep): decile histogram of
    exact Jaccard over the LSH candidates with a cumulative
    pairs-at-or-above column — one candidate-verify pass answers every
    'what survives at 0.X?' question. Buckets are integer-exact
    (|∩|·10 div |∪|), the cumulative window runs over ≤10 histogram
    rows."""
    docs = load(spark, sf_dir, "documents")
    return dedup.jaccard_threshold_sweep(docs, "doc_id", "text", spread=None)


@query(
    "redirect_chain_resolution",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
             'u' || CAST(greatest(doc_id - 1 - (doc_id % 7), 0) AS VARCHAR)
               AS dst
      FROM documents WHERE doc_id % 3 = 0 AND doc_id > 0
    ), r AS (
      SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM e
      UNION ALL
      SELECT r.src, e.dst, r.hops + 1 FROM r JOIN e ON r.dst = e.src
    )
    SELECT src, dst AS final, hops AS n_hops, TRUE AS resolved
    FROM r
    QUALIFY row_number() OVER (PARTITION BY src ORDER BY hops DESC) = 1
    """,
)
def q_redirect_chain_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect/alias chains collapsed to their final target by pointer
    doubling (operators/redirects.py::resolve_chains): each round is
    ONE target-keyed self-equi-join that doubles the resolved path
    length, so million-hop chains need 20 rounds — the distributed
    answer where the oracle's recursive CTE walks one hop per
    iteration. Redirect edges are synthesized deterministically from
    doc_id (every 3rd doc redirects strictly downward — acyclic by
    construction); at crawl scale the input is the 301/canonical edge
    list and unresolvable cycles surface as resolved=false rows
    (errors are data)."""
    from gush_spark.operators.redirects import resolve_chains

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    e = docs.filter((d % 3 == 0) & (d > 0)).select(
        F.concat(F.lit("u"), d.cast("string")).alias("src"),
        F.concat(
            F.lit("u"),
            F.greatest(d - 1 - (d % 7), F.lit(0).cast("long")).cast("string"),
        ).alias("dst"),
    )
    return resolve_chains(e)


def _warc_fixture_dir(sf_dir: str) -> str:
    """Render the documents table as spec-correct WARC shards ONCE per
    documents CONTENT (cached under the system temp dir, keyed by the
    md5 of the parquet bytes — a regenerated fixture at the same path
    gets a fresh render, never a stale cache) so the catalog query
    exercises the real distributed WARC read. Rendering uses pyarrow
    directly — no Spark action, no driver collect of a Spark job;
    4 shards so the scan parallelizes; shards are written to a tmp dir
    and renamed into place so a concurrent harness process never scans
    half-written files."""
    import hashlib
    import os
    import tempfile
    import uuid

    import pyarrow.parquet as pq_mod

    from gush_spark.sources.fixtures import EPOCH0
    from gush_spark.sources.warc import render_warc

    src = os.path.join(sf_dir, "documents.parquet")
    with open(src, "rb") as f:
        tag = hashlib.md5(f.read()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"gush_warc_{tag}")
    if not os.path.isdir(d):
        tbl = pq_mod.read_table(src, columns=["doc_id", "text"])
        import datetime as dt

        ids = tbl.column("doc_id").to_pylist()
        txts = tbl.column("text").to_pylist()
        shards: list[list[dict]] = [[], [], [], []]
        for i, t in zip(ids, txts):
            shards[i % 4].append(
                {
                    "url": f"http://w{i}.example/p",
                    "date": EPOCH0 + dt.timedelta(seconds=i),
                    "status": [200, 301, 404][i % 3],
                    "payload": f"<html><body><p>{t}</p></body></html>",
                }
            )
        tmp = f"{d}.tmp-{uuid.uuid4().hex}"
        os.makedirs(tmp)
        for s, recs in enumerate(shards):
            with open(os.path.join(tmp, f"part-{s}.warc"), "wb") as f:
                f.write(render_warc(recs))
        try:
            os.rename(tmp, d)  # atomic publish; loser of a race cleans up
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return d


@query(
    "warc_parse_report",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             'http://w' || CAST(doc_id AS VARCHAR) || '.example/p' AS url,
             epoch_us(TIMESTAMP '2024-03-01 00:00:00'
                      + doc_id * INTERVAL 1 SECOND) AS warc_us,
             CAST(CASE doc_id % 3 WHEN 0 THEN 200 WHEN 1 THEN 301
                  ELSE 404 END AS BIGINT) AS http_status,
             '<html><body><p>' || text || '</p></body></html>' AS payload
      FROM documents)
    SELECT url, warc_us, http_status, md5(payload) AS payload_md5,
           CAST(octet_length(encode(payload)) AS BIGINT) AS n_payload_bytes
    FROM p
    """,
)
def q_warc_parse_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WARC ingestion (sources/warc.py): the documents
    table is rendered once into spec-correct multi-shard WARC (CRLF
    headers, byte-exact Content-Length, mixed 200/301/404 statuses),
    then read back through the custom-record-delimiter text scan +
    JVM regexp header/payload parse. The oracle reconstructs every
    field straight from the table — url, epoch-µs WARC-Date, HTTP
    status, payload md5 and byte length must all round-trip exactly,
    proving the parser inverts the renderer record-for-record. Scan is
    splittable (Hadoop delimiter reader), parse is whole-stage codegen
    with zero Python nodes."""
    from gush_spark.sources.warc import read_warc_responses

    d = _warc_fixture_dir(sf_dir)
    recs = read_warc_responses(spark, d).where(
        F.col("warc_type") == "response"
    )
    return recs.select(
        "url",
        F.unix_micros(F.col("warc_ts")).alias("warc_us"),
        "http_status",
        F.md5(F.col("payload")).alias("payload_md5"),
        F.octet_length(F.col("payload")).cast("long").alias("n_payload_bytes"),
    )


@query(
    "crawl_frontier_plan",
    oracle=f"""
    WITH {_LINK_BASE}, {_LINK_W}, {_LINK_EDGES},
    e AS (SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
          FROM le GROUP BY 1, 2),
    known AS (SELECT DISTINCT src_host AS host FROM e),
    cand AS (SELECT dst_host AS host, CAST(sum(n_links) AS BIGINT) AS in_links,
                    CAST(count(DISTINCT src_host) AS BIGINT) AS n_referrers
             FROM e GROUP BY 1),
    newh AS (SELECT c.* FROM cand c ANTI JOIN known k ON c.host = k.host)
    SELECT host, in_links, n_referrers FROM newh
    ORDER BY n_referrers DESC, in_links DESC, host
    LIMIT 50
    """,
)
def q_crawl_frontier_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier discovery from the extracted link graph: hosts the
    crawl LINKS TO but has never fetched (LeftAnti against the set of
    crawled hosts), ranked by referrer breadth then link mass — the
    'what to crawl next' plan, the batch complement of
    recrawl_priorities' 'when to re-fetch'. Composition is all reduced
    frames: the edge rollup is the only corpus-sized pass; the anti
    join and scoring run on host×host aggregates and the top-k is
    orderBy+limit (TakeOrderedAndProject, no global sort)."""
    from gush_spark.operators import links as L

    edges = L.host_link_graph(_synth_pages(spark, sf_dir), "url", "html")
    known = edges.select(F.col("src_host").alias("host")).distinct()
    cand = edges.groupBy(F.col("dst_host").alias("host")).agg(
        F.sum("n_links").alias("in_links"),
        F.countDistinct("src_host").alias("n_referrers"),
    )
    return (
        cand.join(known, "host", "left_anti")
        .orderBy(
            F.col("n_referrers").desc(), F.col("in_links").desc(), F.col("host")
        )
        .limit(50)
    )


@query(
    "co_citation_pairs",
    oracle=f"""
    WITH {_LINK_BASE}, {_LINK_W}, {_LINK_EDGES},
    e AS (SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
          FROM le GROUP BY 1, 2),
    capped AS (
      SELECT src_host, dst_host FROM e
      QUALIFY row_number() OVER (PARTITION BY src_host
                                 ORDER BY n_links DESC, dst_host) <= 64),
    pairs AS (
      SELECT a.dst_host AS host_a, b.dst_host AS host_b,
             CAST(count(DISTINCT a.src_host) AS BIGINT) AS n_common_src
      FROM capped a JOIN capped b
        ON a.src_host = b.src_host AND a.dst_host < b.dst_host
      GROUP BY 1, 2)
    SELECT host_a, host_b, n_common_src FROM pairs WHERE n_common_src >= 2
    """,
)
def q_co_citation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation similarity (Small 1973, the IR classic): host pairs
    endorsed by >= 2 common referrers — the 'related sites' signal that
    needs no content, only link structure. The quadratic stage is
    per-SOURCE and CAPPED: each source contributes pairs only from its
    top-64 link targets (n_links-desc rank via WindowGroupLimit — the
    same hot-bucket cap discipline as operators/skew), so pair count is
    bounded by 64²·sources regardless of how promiscuous a hub is; the
    self-join is a src-keyed equi-join, never a cartesian."""
    from gush_spark.operators import links as L

    edges = L.host_link_graph(_synth_pages(spark, sf_dir), "url", "html")
    w = Window.partitionBy("src_host").orderBy(
        F.col("n_links").desc(), F.col("dst_host")
    )
    capped = (
        edges.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= 64)
        .select("src_host", "dst_host")
    )
    a = capped.select(F.col("src_host"), F.col("dst_host").alias("host_a"))
    b = capped.select(F.col("src_host"), F.col("dst_host").alias("host_b"))
    return (
        a.join(b, ["src_host"])
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.countDistinct("src_host").alias("n_common_src"))
        .where(F.col("n_common_src") >= 2)
    )


@query(
    "template_cluster_report",
    oracle=f"""
    WITH {_LINK_BASE}, {_LINK_W},
    s AS (SELECT doc_id,
                 md5('html>body>' || repeat('a>', len(ww))
                     || CASE WHEN doc_id % 5 = 0 THEN 'div>' ELSE '' END
                     || 'a>a>a>a>a>p>') AS structure_hash
          FROM w)
    SELECT structure_hash, CAST(count(*) AS BIGINT) AS n_pages,
           CAST(min(doc_id) AS BIGINT) AS example_doc
    FROM s GROUP BY structure_hash
    """,
)
def q_template_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection by DOM-structure fingerprint: the html's tag
    SEQUENCE (names only, text and attributes stripped via one
    regexp_extract_all + array_join) hashes to a structure key; pages
    sharing a key share a page template — the signal boilerplate
    removal and scraper-trap triage both start from. Map-only tag
    extraction (the html column dies in the scan stage, same pruning
    as operators/links), one hash-keyed count. The oracle derives the
    expected tag sequence independently from the word lists that
    generated the synthesized pages — extraction bugs cannot cancel
    out."""
    pages = _synth_pages(spark, sf_dir)
    tags = F.expr(r"regexp_extract_all(html, '<([a-zA-Z][a-zA-Z0-9]*)', 1)")
    structure = F.md5(
        F.concat(
            F.array_join(F.transform(tags, lambda t: F.lower(t)), ">"),
            F.lit(">"),
        )
    )
    return (
        pages.select(
            F.col("doc_id"), structure.alias("structure_hash")
        )
        .groupBy("structure_hash")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min("doc_id").alias("example_doc"),
        )
    )


@query(
    "url_pattern_report",
    oracle=f"""
    WITH {_LINK_BASE}, {_LINK_W},
    u AS (
      SELECT doc_id, src_host AS host,
             CASE doc_id % 4
               WHEN 0 THEN '/p/' || CAST(doc_id AS VARCHAR)
               WHEN 1 THEN '/cat/' || coalesce(ww[1], 'misc') || '/'
                           || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN '/tag/' || coalesce(ww[1], 'misc')
               ELSE '/' || CAST(doc_id AS VARCHAR) || '/view'
             END AS path
      FROM w)
    SELECT host, regexp_replace(path, '[0-9]+', 'N', 'g') AS pattern,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT CASE WHEN doc_id % 4 IN (0, 1, 3)
                     THEN doc_id END) AS BIGINT) AS n_distinct_ids
    FROM u GROUP BY 1, 2
    """,
)
def q_url_pattern_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-template rollup — collapse digit runs to ``N`` and count
    URLs per (host, pattern): the crawler-trap / infinite-space triage
    view (a pattern with a million distinct ids behind it is a
    calendar or session-id trap, not content). Synthesized paths mix
    id-bearing and taxonomy shapes; the pattern collapse is one
    regexp_replace in codegen, the rollup one (host, pattern)-keyed
    exchange of already-short strings."""
    docs = load(spark, sf_dir, "documents")
    ww = F.slice(
        F.filter(ta.words_of(F.col("text")), lambda x: x.rlike("^[a-z0-9]+$")),
        1,
        3,
    )
    d = F.col("doc_id")
    first = F.coalesce(F.element_at(ww, 1), F.lit("misc"))
    path = (
        F.when(d % 4 == 0, F.concat(F.lit("/p/"), d.cast("string")))
        .when(
            d % 4 == 1,
            F.concat(F.lit("/cat/"), first, F.lit("/"), d.cast("string")),
        )
        .when(d % 4 == 2, F.concat(F.lit("/tag/"), first))
        .otherwise(F.concat(F.lit("/"), d.cast("string"), F.lit("/view")))
    )
    u = docs.select(
        d.alias("doc_id"),
        F.concat(F.col("source"), F.lit(".example")).alias("host"),
        path.alias("path"),
    )
    return (
        u.select(
            "doc_id",
            "host",
            F.regexp_replace(F.col("path"), "[0-9]+", "N").alias("pattern"),
        )
        .groupBy("host", "pattern")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct(
                F.when((F.col("doc_id") % 4).isin(0, 1, 3), F.col("doc_id"))
            ).alias("n_distinct_ids"),
        )
    )


@query(
    "latest_event_state",
    oracle="""
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
           CAST(n_events AS BIGINT) AS n_events
    FROM (
      SELECT user_id, ts, event_id, event_type,
             count(*) OVER (PARTITION BY user_id) AS n_events,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def q_latest_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC materialization — current state per key from a change
    stream (the gush binlog→table semantics; streaming twin:
    streaming/pipeline.latest_state_pipeline + the sink's event-time
    resolve_order). ONE struct-max agg (map-side combinable — partial
    rows per partition, no row_number window over the corpus) carries
    the latest (ts, event_id)-ordered row and the version count in the
    same pass."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    us.alias("ts_us"),
                    F.col("event_id"),
                    F.col("event_type"),
                )
            ).alias("s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("s.ts_us").alias("ts_us"),
            F.col("s.event_id").alias("event_id"),
            F.col("s.event_type").alias("event_type"),
            "n_events",
        )
    )


_BRUTE_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings
               WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             round({_cos_sql("q.q_vec", "v.embedding")}, 6) AS score
      FROM q JOIN embeddings v ON v.vec_id != q.query_id)
    SELECT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
"""


@query(
    "ann_recall_report",
    oracle=f"""
    WITH brute AS ({_BRUTE_SQL}),
    ivf AS ({_kmeans_ivf_sql(10, 2, 2, 5)}),
    hits AS (
      SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM brute b JOIN ivf i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY 1),
    qs AS (SELECT DISTINCT query_id FROM brute)
    SELECT qs.query_id, coalesce(n_hit, 0) AS n_hit,
           CAST(coalesce(n_hit, 0) * 1000000 // 5 AS BIGINT) AS recall_ppm
    FROM qs LEFT JOIN hits ON qs.query_id = hits.query_id
    """,
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the trained-kmeans IVF index against exact brute
    force, per probe — the ANN quality gate AS A QUERY (the README's
    0.875–0.925 recall claim, continuously measured instead of
    asserted once in a test). Both sides reuse the exact catalog
    pipelines; the comparison is an id-equi-join of two k×probes
    frames — the expensive work is the searches themselves, the eval
    adds one tiny join. recall_ppm is truncating BIGINT."""
    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    brute = similarity.brute_force_topk(vecs, queries_df, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = similarity.kmeans_ivf_topk(
        vecs, queries_df, k=5, n_probe=2, n_cells=10, iters=2
    ).select("query_id", "neighbor_id")
    hits = (
        brute.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    # probe ids come straight from the source filter — NOT
    # brute.select(query_id).distinct(), which would embed a second
    # full brute-force scoring plan just to enumerate 8 ids
    qs = queries_df.select(F.col("vec_id").alias("query_id"))
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
        F.expr("coalesce(n_hit, 0) * 1000000 div 5").alias("recall_ppm"),
    )


@query(
    "skew_report",
    oracle="""
    WITH k AS (
      SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n_keys FROM k),
    top AS (
      SELECT key, n FROM k
      QUALIFY row_number() OVER (ORDER BY n DESC, key) <= 10)
    SELECT top.key, top.n, t.total,
           CAST(top.n * 1000000 // t.total AS BIGINT) AS share_ppm,
           (top.n * t.n_keys + t.total - 1) // t.total AS suggested_salt
    FROM top, t
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew diagnosis for a shuffle key: the top-10 hottest
    keys with corpus share (truncating ppm) and a suggested salt
    factor (how many buckets flatten this key to the mean key load —
    ceil(n·n_keys/total), the number operators/skew's salted two-stage
    agg takes as its bucket count). ONE key-keyed count reduces the
    corpus; totals ride a 1-row cross join; top-10 is
    TakeOrderedAndProject. The run-before-you-shuffle planning view of
    the north_rule's skew handling."""
    ev = load(spark, sf_dir, "events")
    k = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = k.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    top = k.orderBy(F.col("n").desc(), F.col("key")).limit(10)
    return top.crossJoin(F.broadcast(t)).selectExpr(
        "key",
        "n",
        "total",
        "CAST(n * 1000000 div total AS LONG) AS share_ppm",
        "(n * n_keys + total - 1) div total AS suggested_salt",
    )


@query(
    "table_profile_events",
    oracle="""
    SELECT 'event_id' AS column_name,
           CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(min(event_id) AS VARCHAR) AS min_value,
           CAST(max(event_id) AS VARCHAR) AS max_value
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(count(*) - count(user_id) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT),
           CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(count(*) - count(event_type) AS BIGINT),
           CAST(count(DISTINCT event_type) AS BIGINT),
           min(event_type), max(event_type)
    FROM events
    UNION ALL
    SELECT 'value', CAST(count(*) - count(value) AS BIGINT),
           CAST(count(DISTINCT value) AS BIGINT),
           CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR)
    FROM events
    """,
)
def q_table_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (every engine's PROFILE/ANALYZE
    surface): per-column null count, exact distinct cardinality and
    min/max rendered as strings — the pre-ingest sanity card next to
    data_expectations_report's rule gate. All four columns profile in
    ONE aggregate (Catalyst expands multi-distinct into one Expand +
    two exchanges — still a single scan of the table, not one scan per
    column like the naive UNION the oracle runs); at 10^12 rows the
    exact distincts swap for HLL sketches (operators/sketches.py), the
    documented trade."""
    ev = load(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"{c}_nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}_distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}_min"),
            F.max(F.col(c)).cast("string").alias(f"{c}_max"),
        ]
    one = ev.agg(*aggs)
    # unpivot the ONE-row aggregate with stack() — a per-column union
    # would embed the whole multi-distinct aggregate subtree once per
    # column and scan the table N times unless ReusedExchange saves it
    stack = ", ".join(
        f"'{c}', {c}_nulls, {c}_distinct, {c}_min, {c}_max" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    )


# ---------------------------------------------------------------------------
# round-5 session-7 additions: link prediction, LSH planning, calibration,
# temperature mixture, vocabulary divergence, scalar quantization
# ---------------------------------------------------------------------------


@query(
    "covisit_link_prediction",
    oracle=(
        "WITH "
        + _COVISIT_EDGES_CTE
        + """, und AS (
      SELECT DISTINCT least(src, dst) AS id_a, greatest(src, dst) AS id_b
      FROM edges WHERE src <> dst
    ), adj AS (
      SELECT id_a AS node, id_b AS nbr FROM und
      UNION ALL SELECT id_b, id_a FROM und
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node
    ), wedge AS (
      SELECT l.nbr AS a, l.node AS b, r.nbr AS c
      FROM adj l JOIN adj r ON l.node = r.node
      WHERE l.nbr < r.nbr
    ), ps AS (
      SELECT a, c,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(1000000000 // d.deg) AS BIGINT) AS ra_x1e9
      FROM wedge JOIN deg d ON d.node = wedge.b
      GROUP BY a, c
    ), cand AS (
      SELECT ps.a, ps.c, ps.common_neighbors, ps.ra_x1e9
      FROM ps LEFT JOIN und e ON e.id_a = ps.a AND e.id_b = ps.c
      WHERE e.id_a IS NULL
    )
    SELECT a AS id_a, c AS id_b, common_neighbors, ra_x1e9,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY a
            ORDER BY ra_x1e9 DESC, common_neighbors DESC, c) AS rnk
          FROM cand)
    WHERE rnk <= 5"""
    ),
)
def q_covisit_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (graph.resource_allocation,
    Zhou/Lü/Zhang 2009) over the undirected co-visit graph: for every
    2-hop non-edge pair, Σ 1/deg over common neighbors in fixed-point
    BIGINT, top-5 predicted neighbors per node — crawl-frontier
    EXPANSION next to bfs_hops' reachability and recrawl's refresh
    ranking. Wedge self-join on the middle vertex + one anti-join +
    WindowGroupLimit; node ids and BIGINTs only on the wire."""
    from gush_spark.operators.graph import resource_allocation, transition_edges

    ev = load(spark, sf_dir, "events").withColumn(
        "_node", F.regexp_extract("props", '"k": ([0-9]+)', 1)
    )
    edges = transition_edges(ev, node_col="_node", gap_s=3600)
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("id_a"),
            F.greatest("src", "dst").alias("id_b"),
        )
        .distinct()
    )
    return resource_allocation(und, k=5)


@query(
    "lsh_parameter_plan",
    oracle=f"""
    WITH f AS (SELECT unnest([1, 2, 4, 8, 16]) AS bands),
    g AS (SELECT unnest(generate_series(1, 19)) AS i),
    base AS (
      SELECT CAST(bands AS BIGINT) AS bands,
             CAST({dedup.MINHASH_K} // bands AS BIGINT) AS rows_per_band,
             CAST(i * 100 // 20 AS BIGINT) AS jaccard_x100,
             i / 20.0 AS _j
      FROM f CROSS JOIN g
    ), s1 AS (
      SELECT *, list_reduce(
        list_prepend(1.0::DOUBLE,
          list_transform(generate_series(1, rows_per_band::INT), x -> _j)),
        (a, b) -> a * b) AS _jr
      FROM base
    ), s2 AS (
      SELECT *, list_reduce(
        list_prepend(1.0::DOUBLE,
          list_transform(generate_series(1, bands::INT), x -> 1.0 - _jr)),
        (a, b) -> a * b) AS _miss
      FROM s1
    )
    SELECT bands, rows_per_band, jaccard_x100,
           round(1.0 - _miss, 9) AS collision_prob
    FROM s2
    """,
)
def q_lsh_parameter_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (bands × rows) S-curve table behind the repo's LSH settings
    (dedup.lsh_parameter_plan): P(collide | jaccard) for every
    factorization of the 16-hash signature on a j = 0.05..0.95 grid,
    computed as sequential multiply FOLDS (never pow) so both engines
    run the identical IEEE chain. A parameter table — zero input data;
    the 10^12-page dedup's (b, r) choice is read off this curve, not
    guessed."""
    from gush_spark.operators.dedup import lsh_parameter_plan

    return lsh_parameter_plan(spark)


@query(
    "classifier_calibration_bins",
    oracle=f"""
    WITH {BASE}, {WORDS},
    tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
    tw AS (SELECT doc_id,
                  ('0x' || substring(md5('q0' || term), 1, 8))::BIGINT
                    % 2001 - 1000 AS wt
           FROM tok WHERE term != ''),
    agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(wt) AS BIGINT) AS score_scaled
            FROM tw GROUP BY doc_id),
    lab AS (SELECT vec_id AS doc_id,
                   CAST(CASE WHEN label >= 5 THEN 1 ELSE 0 END AS BIGINT)
                     AS _y
            FROM embeddings),
    j AS (SELECT agg.doc_id, n_tokens, score_scaled, _y
          FROM agg JOIN lab ON agg.doc_id = lab.doc_id),
    binned AS (
      SELECT *, CAST(ntile(10) OVER (
               ORDER BY CAST(score_scaled AS DOUBLE) / n_tokens DESC,
                        doc_id) AS BIGINT) AS bin
      FROM j)
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(_y) AS BIGINT) AS n_pos,
           CAST(sum(_y) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
           CAST(sum(score_scaled) AS BIGINT) AS sum_score_scaled,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM binned GROUP BY bin
    """,
)
def q_classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit for the linear classifier gate
    (classifier.calibration_bins): scores decile-binned over a total
    order, per-bin positive rate against the eval labels (embeddings
    label ≥ 5 as the binary target, joined doc_id = vec_id). The
    go/no-go check between training a filter model and letting it
    delete petabytes — the seeded-hash default weights show the flat
    profile they should (no label signal in a random projection)."""
    from gush_spark.operators.classifier import calibration_bins, linear_scores

    docs = load(spark, sf_dir, "documents")
    labels = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        (F.col("label") >= 5).cast("long").alias("label"),
    )
    return calibration_bins(
        linear_scores(docs), labels, id_col="doc_id", label_col="label"
    )


@query(
    "lang_temperature_mixture",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY lang
    ), wts AS (
      SELECT lang, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
               AS weight
      FROM c
    ), t AS (SELECT sum(weight) AS tw FROM wts
    ), j AS (
      SELECT lang, n_docs, weight,
             CAST(100000 * weight // tw AS BIGINT) AS base_alloc,
             CAST(100000 * weight % tw AS BIGINT) AS rem
      FROM wts, t
    ), s AS (
      SELECT *,
             100000 - sum(base_alloc) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, lang) AS rnk
      FROM j
    )
    SELECT lang, n_docs, weight,
           CAST(base_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc,
           CAST((base_alloc + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END)
                * 1000000 // n_docs AS BIGINT) AS ratio_ppm
    FROM s
    """,
)
def q_lang_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (mixture.temperature_weights
    + budget.apportion_budget): per-language sampling targets for a
    100k-document budget with T=2 upweighting of low-resource
    languages — weights are floor(sqrt(n)·10^6) (sqrt is the one
    correctly-rounded power, so the weights are engine-exact BIGINTs)
    apportioned by Hamilton largest remainder (Σ alloc == budget
    exactly). ratio_ppm > 10^6 means the language is UPSAMPLED —
    mixture_resample materializes exactly that plan."""
    from gush_spark.operators.budget import apportion_budget
    from gush_spark.operators.mixture import temperature_weights

    docs = load(spark, sf_dir, "documents")
    tw = temperature_weights(docs, "lang")
    alloc = apportion_budget(
        tw.select("stratum", "weight"), 100_000,
        key_col="stratum", weight_col="weight",
    ).select("stratum", F.col("alloc"))
    return (
        tw.join(alloc, on="stratum")
        .select(
            F.col("stratum").alias("lang"),
            "n_docs",
            "weight",
            "alloc",
            F.expr("alloc * 1000000L DIV n_docs").alias("ratio_ppm"),
        )
    )


@query(
    "source_vocab_divergence",
    oracle=f"""
    WITH b AS (SELECT source, {NORM} AS norm FROM documents),
    tok AS (SELECT source, unnest(string_split(norm, ' ')) AS wd FROM b),
    bk AS (SELECT source,
                  ('0x' || substring(md5(wd), 1, 8))::BIGINT % 64 AS bucket
           FROM tok WHERE wd != ''),
    ps AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS c_sb
           FROM bk GROUP BY 1, 2),
    st AS (SELECT source, CAST(sum(c_sb) AS BIGINT) AS n_s
           FROM ps GROUP BY 1),
    cb AS (SELECT bucket, CAST(sum(c_sb) AS BIGINT) AS c_b
           FROM ps GROUP BY 1),
    ct AS (SELECT CAST(sum(c_b) AS BIGINT) AS n_tot FROM cb),
    cv AS (SELECT bucket, c_b * 1000000000 // n_tot AS q_ppb
           FROM cb, ct),
    grid AS (SELECT st.source, st.n_s, cv.bucket, cv.q_ppb
             FROM st CROSS JOIN cv),
    cells AS (SELECT g.source, g.n_s, g.q_ppb,
                     COALESCE(ps.c_sb, 0) AS c_sb
              FROM grid g LEFT JOIN ps
                ON ps.source = g.source AND ps.bucket = g.bucket)
    SELECT source,
           CAST(max(n_s) AS BIGINT) AS n_tokens,
           CAST(sum(abs(c_sb * 1000000000 // n_s - q_ppb)) AS BIGINT)
             AS l1_x1e9
    FROM cells GROUP BY source
    """,
)
def q_source_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary L1 divergence from the corpus mix over 64
    hashed vocabulary buckets (operators/divergence.py) — the
    source-level register/spam screen next to DSIR's per-document
    importance scores; all counts and distributions integer ppb, raw
    text never on the wire."""
    from gush_spark.operators.divergence import source_vocab_divergence

    return source_vocab_divergence(load(spark, sf_dir, "documents"))


@query(
    "sq8_quantization_report",
    oracle="""
    WITH d AS (
      SELECT unnest(embedding) AS v,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
    ), st AS (
      SELECT i, CAST(min(v) AS DOUBLE) AS mn, CAST(max(v) AS DOUBLE) AS mx
      FROM d GROUP BY i
    ), arr AS (
      SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
      FROM st
    ), e AS (
      SELECT vec_id,
             CAST(len(embedding) AS BIGINT) AS n_dims,
             list_transform(generate_series(1, len(embedding)), i ->
               CAST(embedding[i] AS DOUBLE) - (
                 mins[i] + (CASE WHEN maxs[i] = mins[i] THEN 0.0::DOUBLE
                   ELSE least(255.0::DOUBLE, greatest(0.0::DOUBLE,
                     floor(((CAST(embedding[i] AS DOUBLE) - mins[i])
                            * 255.0) / (maxs[i] - mins[i]))))
                   END) * (maxs[i] - mins[i]) / 255.0)) AS err
      FROM embeddings CROSS JOIN arr
    )
    SELECT vec_id, n_dims,
           round(list_reduce(list_prepend(0.0::DOUBLE, err),
                 (acc, x) -> acc + x * x), 9) AS sse,
           round(list_reduce(list_prepend(0.0::DOUBLE, err),
                 (acc, x) -> greatest(acc, abs(x))), 9) AS max_abs_err
    FROM e
    """,
)
def q_sq8_quantization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-int8 quantization audit (pq.sq8_report): per-vector SSE
    and max per-dim error of the per-dimension [min,max] → {0..255}
    codec — the 4× memory tier below PQ; error folds run in dimension
    order in both engines so the report is hash-exact. Dim-stat table
    is KBs, broadcast back; the corpus crosses zero exchanges."""
    from gush_spark.operators.pq import sq8_report

    return sq8_report(load(spark, sf_dir, "embeddings"))


@query(
    "quality_length_correlation",
    oracle=f"""
    WITH b AS (SELECT doc_id, n_chars, {NORM} AS norm FROM documents),
    w2 AS (SELECT doc_id, n_chars, norm, string_split(norm, ' ') AS ws
           FROM b),
    feat AS (SELECT doc_id, n_chars, {QUALITY_RATIOS} FROM w2),
    q AS (SELECT doc_id, n_chars, {QUALITY_SCORE} AS qs FROM feat),
    r AS (SELECT doc_id,
            row_number() OVER (ORDER BY qs, doc_id) AS ra,
            row_number() OVER (ORDER BY n_chars, doc_id) AS rb
          FROM q)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
           round(1.0 - (6.0 * sum((ra - rb) * (ra - rb)))
                 / (count(*) * (count(*) * count(*) - 1)), 9) AS rho
    FROM r
    """,
)
def q_quality_length_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the heuristic quality score
    and raw document length (operators/correlation.py) — the
    redundancy audit for the gate stack: ρ near 1 would mean the
    quality gate is a length gate in disguise and one of the two can
    be dropped from the 10^12-page pass. Ranks are deterministic
    row_number totals (score, then id); Σd² and n(n²−1) exact BIGINT;
    ρ is one double multiply + divide, hash-exact."""
    from gush_spark.operators.correlation import spearman_rho

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "n_chars",
        ta.quality_features(F.col("text"))["quality_score"].alias("_qs"),
    )
    return spearman_rho(scored, "_qs", "n_chars")


@query(
    "dedup_savings_report",
    oracle=f"""
    WITH b AS (SELECT doc_id, n_chars, {NORM} AS norm FROM documents),
    cl AS (SELECT md5(norm) AS fp,
                  CAST(count(*) AS BIGINT) AS cs,
                  CAST(sum(n_chars) AS BIGINT) AS ct,
                  CAST(arg_min(n_chars, doc_id) AS BIGINT) AS kc
           FROM b GROUP BY 1)
    SELECT cs AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cs) AS BIGINT) AS n_docs,
           CAST(sum(cs - 1) AS BIGINT) AS n_dropped,
           CAST(sum(ct - kc) AS BIGINT) AS chars_dropped
    FROM cl GROUP BY cs
    """,
)
def q_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup capacity planning (dedup.dedup_savings_report):
    duplicate-cluster size histogram with dropped-document and
    dropped-character totals — the storage/compute case for the dedup
    pass, riding the same 16-byte fingerprint shuffle exact_dedup
    already pays (keeper = min-id via struct-min, one combinable
    agg)."""
    from gush_spark.operators.dedup import dedup_savings_report

    docs = load(spark, sf_dir, "documents")
    return dedup_savings_report(docs, "doc_id", "text")


@query(
    "crawl_drain_schedule",
    oracle="""
    WITH wts AS (
      SELECT source AS key, CAST(count(*) AS BIGINT) AS wt
      FROM documents GROUP BY source
    ), t AS (SELECT sum(wt) AS tw FROM wts
    ), j AS (
      SELECT key, wt,
             CAST(997 * wt // tw AS BIGINT) AS base_alloc,
             CAST(997 * wt % tw AS BIGINT) AS rem
      FROM wts, t
    ), s AS (
      SELECT *,
             997 - sum(base_alloc) OVER () AS leftover,
             row_number() OVER (ORDER BY rem DESC, key) AS rnk
      FROM j
    ), a AS (
      SELECT key AS source, wt AS n_pages,
             CAST(base_alloc
                  + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS alloc
      FROM s
    ), r AS (
      SELECT source, n_pages, alloc,
             CAST(least(alloc, 40) AS BIGINT) AS effective_rate
      FROM a
    )
    SELECT source, n_pages, alloc, effective_rate,
           CAST(CASE WHEN effective_rate > 0
                     THEN (n_pages + effective_rate - 1) // effective_rate
                END AS BIGINT) AS cycles_to_drain
    FROM r
    """,
)
def q_crawl_drain_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduling triad composed into a drain plan
    (budget.drain_schedule): Hamilton-apportion a 997-slot per-cycle
    budget across sources by backlog, cap each source's usable rate at
    a politeness quota of 40/cycle, and report cycles-to-drain — the
    makespan view a crawl planner reads before reallocating slots that
    politeness-capped hosts can never spend. All-BIGINT ceil via
    (n + r − 1) DIV r."""
    from gush_spark.operators.budget import drain_schedule

    docs = load(spark, sf_dir, "documents")
    demand = docs.groupBy(F.col("source").alias("host")).agg(
        F.count(F.lit(1)).alias("n_pages")
    )
    return drain_schedule(demand, 997, 40, key_col="host").select(
        F.col("host").alias("source"),
        "n_pages",
        "alloc",
        "effective_rate",
        "cycles_to_drain",
    )


@query(
    "interleave_training_order",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS depth
      FROM documents
    )
    SELECT doc_id, source, depth,
           CAST(row_number() OVER (ORDER BY depth, doc_id) AS BIGINT)
             AS rank,
           CAST((row_number() OVER (ORDER BY depth, doc_id) - 1) * 3
                // count(*) OVER () AS BIGINT) AS phase
    FROM r
    """,
)
def q_interleave_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced round-robin training order
    (curriculum.interleave_order): every stretch of the stream carries
    every source — depth = md5-rank within source, global order
    (depth, id) materialized by the bucketed two-phase ordinal (no
    global sort); the shard-interleave complement of curriculum_order's
    difficulty sort."""
    from gush_spark.operators.curriculum import interleave_order

    return interleave_order(load(spark, sf_dir, "documents"))


@query(
    "sq8_dim_stats",
    oracle="""
    WITH d AS (
      SELECT vec_id, unnest(embedding) AS v,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
    ), st AS (
      SELECT i, CAST(min(v) AS DOUBLE) AS mn, CAST(max(v) AS DOUBLE) AS mx
      FROM d GROUP BY i
    ), coded AS (
      SELECT d.i - 1 AS dim, st.mn, st.mx,
             CAST(CASE WHEN st.mx = st.mn THEN 0 ELSE
               least(255.0, greatest(0.0,
                 floor(((CAST(d.v AS DOUBLE) - st.mn) * 255.0)
                       / (st.mx - st.mn))))
             END AS BIGINT) AS c
      FROM d JOIN st ON d.i = st.i
    ), agg AS (
      SELECT dim,
             CAST(count(*) AS BIGINT) AS n_vecs,
             min(mn) AS mn, max(mx) AS mx,
             CAST(count(DISTINCT c) AS BIGINT) AS n_distinct_codes,
             CAST(sum(c) AS BIGINT) AS sum_code,
             CAST(sum(c * c) AS BIGINT) AS sum_code_sq
      FROM coded GROUP BY dim
    )
    SELECT dim, n_vecs, mn, mx, n_distinct_codes, sum_code, sum_code_sq,
           round(CAST(sum_code_sq AS DOUBLE) / n_vecs
                 - (CAST(sum_code AS DOUBLE) / n_vecs)
                 * (CAST(sum_code AS DOUBLE) / n_vecs), 9) AS code_var
    FROM agg
    """,
)
def q_sq8_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health card over SQ8 codes
    (pq.sq8_dim_stats): distinct-code count and integer-exact code
    variance per dimension — the dimension-collapse detector run
    before ANN/SemDeDup trusts the column; BIGINT sums make the
    statistics order-free and hash-exact, the corpus never shuffles."""
    from gush_spark.operators.pq import sq8_dim_stats

    return sq8_dim_stats(load(spark, sf_dir, "embeddings"))


@query(
    "blockmax_postings",
    oracle=f"""
    WITH {{_TF_CTES}},
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
           GROUP BY doc_id),
    tot AS (SELECT (SELECT count(*) FROM documents) AS _n,
                   (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS _toks),
    post AS (
      SELECT tf.term, tf.doc_id,
             CAST(round(round(ln(1.0 + (_n - df + 0.5) / (df + 0.5)), 6)
                   * ((tf * {{k1p1!r}}) /
                      (tf + {{k1!r}} * ({{omb!r}}
                       + {{b!r}} * (dl / (_toks / _n)))))
                   * 1000000.0) AS BIGINT) AS micro
      FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
      WHERE df >= 2
    ), blk AS (
      SELECT term, doc_id, micro,
             CAST((row_number() OVER (PARTITION BY term ORDER BY doc_id)
                   - 1) // 128 AS BIGINT) AS block
      FROM post
    )
    SELECT term, block,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS doc_lo,
           CAST(max(doc_id) AS BIGINT) AS doc_hi,
           CAST(max(micro) AS BIGINT) AS block_max_micro
    FROM blk GROUP BY term, block
    """.format(_TF_CTES=_TF_CTES, k1p1=kw.BM25_K1 + 1.0, k1=kw.BM25_K1,
               omb=1.0 - kw.BM25_B, b=kw.BM25_B),
)
def q_blockmax_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max postings index (keywords.blockmax_postings, Ding &
    Suel 2011): per (term, 128-doc block) doc-id range + max BM25
    micro-score — the WAND/MaxScore skipping structure a 10^12-page
    keyword tier materializes so top-k queries skip blocks that cannot
    reach the k-th score. Integer micro-scores shared with
    bm25_search; per-term windows, order-free rollup."""
    from gush_spark.operators.keywords import blockmax_postings

    return blockmax_postings(load(spark, sf_dir, "documents"))


@query(
    "pq_adc_rerank_topk",
    oracle="WITH "
    + ",\n".join(_pq_parts(1))
    + """,
    qsub AS (SELECT vec_id AS query_id, m, pos, xq AS qq FROM sub
             WHERE vec_id < 8),
    lut AS (SELECT query_id, c.m, c.code,
                   sum((qq - cq) * (qq - cq)) AS d
            FROM qsub q JOIN cb1 c ON q.m = c.m AND q.pos = c.pos
            GROUP BY query_id, c.m, c.code),
    sc AS (SELECT query_id, codes.vec_id AS neighbor_id,
                  CAST(sum(d) AS BIGINT) AS adc_dist
           FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code
           GROUP BY query_id, codes.vec_id),
    topr AS (SELECT query_id, neighbor_id, adc_dist FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rnk
      FROM sc) WHERE rnk <= 20),
    ed AS (SELECT t.query_id, t.neighbor_id, t.adc_dist,
                  CAST(sum((q.qq - s.xq) * (q.qq - s.xq)) AS BIGINT)
                    AS exact_dist
           FROM topr t
           JOIN sub s ON s.vec_id = t.neighbor_id
           JOIN qsub q ON q.query_id = t.query_id
                      AND q.m = s.m AND q.pos = s.pos
           GROUP BY 1, 2, 3)
    SELECT query_id, neighbor_id, adc_dist, exact_dist,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY exact_dist, neighbor_id)
                    AS rank
          FROM ed)
    WHERE rank <= 5
    """,
)
def q_pq_adc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval (pq.pq_adc_rerank_topk): ADC top-20
    shortlist over the compressed codes, exact quantized-integer
    re-rank to top-5 — the production coarse-then-exact pattern; the
    float corpus is touched only for the broadcast-semi-join-pruned
    shortlist."""
    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    cb = pq_ops.pq_train(vecs, iters=1, dim=_PQ_DIM)
    codes = pq_ops.pq_encode(vecs, cb, dim=_PQ_DIM)
    return pq_ops.pq_adc_rerank_topk(
        codes, cb, queries_df, vecs, r=20, k=5, dim=_PQ_DIM
    )


@query(
    "hapax_rate_report",
    oracle=f"""
    WITH b AS (SELECT source, {NORM} AS norm FROM documents),
    tok AS (SELECT source, unnest(string_split(norm, ' ')) AS wd FROM b),
    k2 AS (SELECT source, md5(wd) AS wk FROM tok WHERE wd != ''),
    ps AS (SELECT source, wk, CAST(count(*) AS BIGINT) AS c_sw
           FROM k2 GROUP BY 1, 2),
    cw AS (SELECT wk, CAST(sum(c_sw) AS BIGINT) AS c_w FROM ps GROUP BY 1),
    fl AS (SELECT source, c_sw,
                  CASE WHEN c_w = 1 THEN 1 ELSE 0 END AS hx
           FROM ps JOIN cw USING (wk))
    SELECT source,
           CAST(sum(c_sw) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(hx) AS BIGINT) AS n_hapax,
           CAST(sum(hx) * 1000000 // sum(c_sw) AS BIGINT)
             AS hapax_token_ppm,
           CAST(sum(hx) * 1000000 // count(*) AS BIGINT)
             AS hapax_type_ppm
    FROM fl GROUP BY source
    """,
)
def q_hapax_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax-legomenon profile (divergence.hapax_report):
    share of corpus-count-1 tokens per source in BIGINT ppm — the
    OCR-noise/gibberish spike detector and boilerplate-mill collapse
    detector; md5 word keys on the wire, one vocabulary-keyed
    combinable shuffle."""
    from gush_spark.operators.divergence import hapax_report

    return hapax_report(load(spark, sf_dir, "documents"))


def _rrf_oracle() -> str:
    bf = _ORACLE_REGISTRY["ann_topk_bruteforce"]
    ls = _ORACLE_REGISTRY["ann_topk_lsh"]
    return f"""
    WITH bf AS ({bf}),
    ls AS ({ls}),
    u AS (
      SELECT query_id, neighbor_id,
             CAST(1000000 // (60 + rank) AS BIGINT) AS pt FROM bf
      UNION ALL
      SELECT query_id, neighbor_id,
             CAST(1000000 // (60 + rank) AS BIGINT) FROM ls
    ), f AS (
      SELECT query_id, neighbor_id,
             CAST(count(*) AS BIGINT) AS n_systems,
             CAST(sum(pt) AS BIGINT) AS rrf_x1e6
      FROM u GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, n_systems, rrf_x1e6,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY rrf_x1e6 DESC, n_systems DESC, neighbor_id) AS rnk
          FROM f)
    WHERE rnk <= 10
    """


@query("ann_rrf_fused_topk", oracle=None)  # oracle composed below
def q_ann_rrf_fused_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two ANN tiers
    (similarity.rrf_fuse, Cormack et al. 2009): the exact brute-force
    ranking and the sign-bucket LSH ranking fused by Σ 10^6 DIV
    (60 + rank) — rank-only fusion needs no score calibration, which
    is why hybrid retrieval at web scale fuses BM25 ∪ dense exactly
    this way. Each input is an existing catalog query's frame; fusion
    adds one combinable agg + a WindowGroupLimit."""
    from gush_spark.operators.similarity import rrf_fuse

    vecs = load(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8)
    bf = similarity.brute_force_topk(vecs, queries_df, k=5).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )
    ls = similarity.lsh_topk(vecs, queries_df, k=5).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )
    return rrf_fuse([bf, ls], c=60, k=10)


_ORACLE_REGISTRY["ann_rrf_fused_topk"] = _rrf_oracle()


@query(
    "rendezvous_rebalance",
    oracle="""
    WITH k AS (SELECT CAST(doc_id AS VARCHAR) AS rk FROM documents),
    wts AS (
      SELECT rk, s,
             ('0x' || substring(md5(rk || '|' || CAST(s AS VARCHAR)),
                                1, 15))::BIGINT AS w
      FROM k, (SELECT unnest(generate_series(0, 16)) AS s)
    ), pick AS (
      SELECT rk,
             CAST(arg_max(s, CASE WHEN s <= 15 THEN w END) AS BIGINT)
               AS shard,
             CAST(arg_max(s, w) AS BIGINT) AS after_shard
      FROM wts GROUP BY rk
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN shard <> after_shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST(sum(CASE WHEN shard <> after_shard THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS moved_ppm
    FROM pick GROUP BY shard
    """,
)
def q_rendezvous_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hashing rebalance report
    (sources/layout.rendezvous_rebalance_report, Thaler & Ravishankar
    1998): per-shard document counts at 16 shards and the fraction
    that MOVES when the ring grows to 17 — HRW's only-the-winners-move
    property measured (expected ~1/17 ≈ 58.8k ppm vs ~all under
    mod-N), the proof the shard map grows without a corpus rewrite.
    Map-only 60-bit md5 argmax folds; one shard-keyed agg."""
    from gush_spark.sources.layout import rendezvous_rebalance_report

    return rendezvous_rebalance_report(
        load(spark, sf_dir, "documents"), "doc_id"
    )
