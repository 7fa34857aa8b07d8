"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.  All built-in functions — no UDFs, so the whole
pack runs inside whole-stage codegen and is fully expressible as SQL
oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from debias_spark.operators.dedup import H60_SQL, WORD_TOKENS_DUCK, word_tokens

# Small per-language function-word lists for the overlap heuristic.  Order
# matters: ties resolve in list order (en > de > es > fr), deterministically.
LANG_STOPWORDS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and", "to", "in", "is"]),
    ("de", ["der", "die", "das", "und", "zu", "ein", "ist"]),
    ("es", ["el", "la", "de", "y", "que", "un", "es"]),
    ("fr", ["le", "la", "de", "et", "les", "un", "est"]),
]

PUNCT_CLASS = r"[.,;:!?'\"]"
# BPE-ish lexer: letter runs | digit runs | single non-space symbol
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(word_tokens(text))


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-overlap score (count of distinct function words
    present)."""
    toks = distinct_tokens(text)
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).cast("long")
        for lang, words in LANG_STOPWORDS
    }


def lang_predict(scores: dict[str, Column]) -> Column:
    """Argmax with deterministic tie order = LANG_STOPWORDS order."""
    langs = [lang for lang, _ in LANG_STOPWORDS]
    pred = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        later = [scores[lg] for lg in langs[langs.index(lang) + 1 :]]
        cond = scores[lang] >= F.greatest(*later) if len(later) > 1 else scores[lang] >= later[0]
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def whitespace_token_count(text: Column) -> Column:
    """Token count on whitespace runs; empty/blank text counts 0."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    ).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Lexer-style token count (letter runs / digit runs / symbols)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("long")


def punct_ratio(text: Column) -> Column:
    n = F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    return n.cast("double") / F.nullif(F.length(text), F.lit(0)).cast("double")


def stopword_ratio(text: Column) -> Column:
    """Share of tokens that are (any-language) function words."""
    toks = word_tokens(text)
    all_sw = sorted({w for _, words in LANG_STOPWORDS for w in words})
    sw = F.array(*[F.lit(w) for w in all_sw])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits.cast("double") / F.nullif(F.size(toks), F.lit(0)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    reasonable stopword share.  Weights are explicit so the SQL oracle can
    restate them verbatim."""
    n_tok = whitespace_token_count(text)
    len_ok = (
        F.when((n_tok >= 10) & (n_tok <= 1000), F.lit(1.0))
        .when(n_tok > 0, F.lit(0.5))
        .otherwise(F.lit(0.0))
    )
    p = F.coalesce(punct_ratio(text), F.lit(0.0))
    s = F.coalesce(stopword_ratio(text), F.lit(0.0))
    return F.round(0.5 * len_ok + 0.25 * (1.0 - F.least(p * 10, F.lit(1.0))) + 0.25 * F.least(s * 5, F.lit(1.0)), 4) + 0.0


def normalize_for_fingerprint(text: Column) -> Column:
    """Canonical form: lowercase, whitespace runs collapsed, trimmed."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint of the normalized text (md5 — stable across
    engines and platforms; the exact-dedup shuffle key at scale)."""
    return F.md5(normalize_for_fingerprint(text))


def normalize_strict(text: Column) -> Column:
    """The Z7 'fuzzy-exact' canonical form: lowercase, non-alphanumerics
    STRIPPED, space runs collapsed, trimmed — stricter than
    ``normalize_for_fingerprint`` (which keeps punctuation).  The DuckDB
    twin is ``NORMALIZE_STRICT_DUCK``; keep the two spellings in
    lockstep, they are hash-compared by every caller's oracle.
    (dedup_exact_normalized predates this helper and inlines
    the identical expression — consolidate when that key next changes.)"""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", ""), r" +", " "
        )
    )


# DuckDB spelling of normalize_strict over a column expression {x}
NORMALIZE_STRICT_DUCK = (
    "trim(regexp_replace(regexp_replace(lower({x}), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


# ---------------------------------------------------------------------------
# X53 quality gate, factored so the corpus-build capstone (Z75) provably
# applies the IDENTICAL keep/drop rule chain the standalone key pins.
# ---------------------------------------------------------------------------

def quality_features(text: Column) -> tuple[Column, Column]:
    """(n_tokens, n_punct) — the two measured features of the X53 quality
    rule chain (n_chars comes from the table column)."""
    n_tokens = F.size(word_tokens(text))
    n_punct = F.length(F.regexp_replace(text, r"[^.,!?;:]", ""))
    return n_tokens, n_punct


def quality_verdict(n_chars: Column, n_tokens: Column, n_punct: Column) -> Column:
    """First-match-wins quality verdict (length -> word-shape ->
    punctuation density) over pre-computed feature columns.  The DuckDB
    twin is ``QUALITY_VERDICT_DUCK``; keep the two in lockstep."""
    return (
        F.when(n_chars < 30, "too_short")
        .when(
            (n_tokens == 0)
            | (n_chars * 1.0 / F.greatest(n_tokens, F.lit(1)) > 12),
            "long_words",
        )
        .when(n_punct * 1.0 / F.greatest(n_chars, F.lit(1)) > 0.1, "punct_heavy")
        .otherwise("keep")
    )


# DuckDB spellings over column expressions {x} / feature names
QUALITY_TOKENS_DUCK = (
    "len(list_filter(string_split_regex(lower({x}), '\\s+'), x -> x <> ''))"
)
QUALITY_PUNCT_DUCK = "length(regexp_replace({x}, '[^.,!?;:]', '', 'g'))"
QUALITY_VERDICT_DUCK = """CASE
                 WHEN {n_chars} < 30 THEN 'too_short'
                 WHEN {n_tokens} = 0
                   OR {n_chars} * 1.0 / greatest({n_tokens}, 1) > 12
                   THEN 'long_words'
                 WHEN {n_punct} * 1.0 / greatest({n_chars}, 1) > 0.1
                   THEN 'punct_heavy'
                 ELSE 'keep'
               END"""


# Dead-letter routing gate (Z72, replayed by Z74): first matching reason
# wins.  ONE template, instantiated per engine with only the integer-div
# operator differing (a transcription error in a hand-maintained copy
# would only surface at the SFs where that arm fires — sf0.1 for
# ws_heavy)
ROUTE_MIN_CHARS = 180  # documents shorter than this quarantine as 'short'
ROUTE_WS_MAX_PCT = 20  # whitespace above this percent -> 'ws_heavy'
_ROUTE_REASON_TPL = """CASE
    WHEN CAST(n_chars AS BIGINT) < {min_chars} THEN 'short'
    WHEN (length(text) - length(replace(text, ' ', ''))) * 100
         {intdiv} greatest(length(text), 1) >= {ws_pct} THEN 'ws_heavy'
    ELSE NULL END"""
ROUTE_REASON_DUCK = _ROUTE_REASON_TPL.format(
    min_chars=ROUTE_MIN_CHARS, ws_pct=ROUTE_WS_MAX_PCT, intdiv="//"
)
ROUTE_REASON_SPARK = _ROUTE_REASON_TPL.format(
    min_chars=ROUTE_MIN_CHARS, ws_pct=ROUTE_WS_MAX_PCT, intdiv="div"
)


def word_ngrams_frame(docs, n: int, id_col: str = "doc_id", text_col: str = "text"):
    """DISTINCT (id, gram) rows of n-token windows per document — the
    contamination-audit gram build (Y12), factored out so the bloom
    prefilter variant (Y72) provably screens the IDENTICAL gram set.

    r13 spelling: grams are built as a pure ARRAY expression (slice over
    the token array per window position, de-duplicated per doc with
    array_distinct before the explode) — ZERO exchanges, where the old
    lead()-window build paid a per-doc sort shuffle plus a global
    distinct shuffle over the full gram stream.  Values identical:
    windows are consecutive tokens of the same array, and per-doc
    distinct IS global distinct because the doc id is part of the key."""
    # the token array is projected ONCE per row before the window
    # transform: a lambda that captured the tokenization expression
    # would re-tokenize the document per window position (measured 5x
    # slower than the window build; CollapseProject keeps the split out
    # of the lambda because it is non-cheap and multiply-referenced).
    # NO fan_out here: callers with scan-shaped input apply it themselves
    # (fan_out's partition probe compiles the physical plan, which is
    # cheap on a scan but measurably expensive on deep mid-pipeline
    # frames like the corpus builds' s2 — A/B'd at sf0.1).
    ex = docs.select(id_col, word_tokens(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    grams = F.when(
        F.size(t) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return ex.select(id_col, F.explode(grams).alias("gram"))


# --- decontamination against a held-out eval split (Y12/Y72/Z75/Z76) ------
EVAL_MAX_ID = 20  # docs below this id play the held-out benchmark set
DECONTAM_GRAM_N = 8  # decontamination gram width (token windows)
EVAL_GRAM_CAP = 500_000  # hard bound on the collected eval gram set

# Y12's oracle, shared verbatim by the bloom-prefilter variant Y72: the
# prefilter must provably compute the IDENTICAL result, so both keys
# hash against the same oracle text
NGRAM_AUDIT_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id,
               {WORD_TOKENS_DUCK} AS t
        FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest([array_to_string(t[i:i+7], ' ')
                           -- len-7 upper bound: the inclusive slice t[i:i+7]
                           -- clamps at i=len-6 to a 7-token gram the Spark
                           -- lead(t,7) build never emits
                           FOR i IN range(1, greatest(len(t) - 7, 0) + 1)])
                       AS gram
            FROM toks
        )
    ), eval_grams AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id < {EVAL_MAX_ID}
    )
    SELECT g.doc_id, count(*) AS n_hits,
           min(g.gram) AS sample_gram
    FROM grams g JOIN eval_grams e ON e.gram = g.gram
    WHERE g.doc_id >= {EVAL_MAX_ID}
    GROUP BY g.doc_id
    """

BLOOM_BITS = 1 << 17  # bloom width: 131072 bits = 2048 longs (~16 KB)


def bloom_bits_literal(grams: list[str], m_bits: int = BLOOM_BITS) -> str:
    """Build the bloom bit array driver-side from a bounded gram set and
    return it as a Spark ``array(...)`` literal of signed longs — the
    ~16 KB replacement for a broadcast hash table.  Shared by Y72 and the
    corpus builds (Z75/Z76) so all provably probe the same filter."""
    import hashlib

    words = [0] * (m_bits // 64)
    for g in grams:
        hx = hashlib.md5(g.encode("utf-8")).hexdigest()
        for h in (int(hx[:15], 16) % m_bits, int(hx[15:30], 16) % m_bits):
            words[h // 64] |= 1 << (h % 64)
    # signed-long wrap: Spark array<bigint> literals are signed 64-bit
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    return "array(" + ",".join(f"{w}L" for w in words) + ")"


def bloom_member(bits: str, m_bits: int = BLOOM_BITS) -> Column:
    """Pure-expression bloom probe over a ``gram`` column: two md5-derived
    hashes test their bits in the literal array — no UDF, no broadcast
    hash table, runs inside whole-stage codegen.  ONE bits literal in the
    plan: both probes run inside a forall over the two hash expressions
    (md5 evaluated twice, not four times)."""
    h1 = H60_SQL.format(x="gram") + f" % {m_bits}"
    h2 = f"CAST(conv(substr(md5(gram), 16, 15), 16, 10) AS BIGINT) % {m_bits}"
    return F.expr(
        f"forall(array({h1}, {h2}), h ->"
        f" (shiftright(element_at({bits}, CAST(h div 64 AS INT) + 1),"
        f" CAST(h % 64 AS INT)) & 1) = 1)"
    )
