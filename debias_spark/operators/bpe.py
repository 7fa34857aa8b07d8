"""Byte-pair-encoding vocabulary fit, Spark-first.

The tokenizer-training step of an LLM data pipeline, with the realistic
distributed split: ONE corpus-scale aggregation reduces the corpus to
word-type frequencies (linear, map-side combined — the only pass whose
cost grows with corpus size), then the merge loop iterates on the
VOCABULARY frame, which is bounded by type count, not token count.  Each
round is: adjacent-symbol-pair weighted count (explode + aggregate),
argmax (count desc, pair asc — deterministic ties), apply the merge.

Merges apply through ``replace(' '||s||' ', ' a b ', ' ab ')`` on the
space-joined symbol string, applied TWICE per round: a single
left-to-right replace consumes the trailing delimiter space of each
match, so of k back-to-back occurrences ('x y x y') it merges only
alternating ones; the survivors are never adjacent to each other, so one
more pass merges them all, matching BPE's merge-every-occurrence
semantics exactly.  Both engines run the identical double replace, so
the whole fit is deterministic and the DuckDB oracle can replay it as N
unrolled CTE rounds, hash-matching the merge table of an
actually-iterative engine run (same doctrine as dedup_clusters'
WITH RECURSIVE closure).

Driver synchronization is one 1-row collect per merge round (the argmax
pair) — the same O(rounds) sync budget as duplicate_clusters, and the
vocab frame is checkpoint-free because each round's plan is a single
projection over the previous (10 rounds of replace() nest fine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.numeric import floor_eps_sql


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(s, freq): space-joined character symbols per word TYPE, weighted
    by corpus frequency.  The one corpus-scale pass."""
    from debias_spark.operators.dedup import word_tokens

    tok = docs.select(F.explode(word_tokens(F.col(text_col))).alias("t"))
    counts = tok.groupBy("t").agg(F.count("*").alias("freq"))
    # split('', ...) yields one element per character in Spark 4
    return counts.select(
        F.array_join(F.split("t", ""), " ").alias("s"), "freq"
    )


def adjacent_pairs(s: F.Column) -> F.Column:
    """Adjacent symbol pairs of a space-joined symbol string, single-pass
    zip_with (cf. word_shingles n=2 fast path)."""
    toks = F.split(s, " ")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def bpe_fit(
    spark: SparkSession, words: DataFrame, n_merges: int = 10, stride: int = 4
) -> DataFrame:
    """Run ``n_merges`` BPE rounds over a (s, freq) vocabulary frame;
    returns the merge table (rank, pair, merged, cnt) — the artifact a
    tokenizer ships.  Symbols must be space-free (word_tokens guarantees
    it).

    ``stride``: localCheckpoint the vocab frame every ``stride`` merges.
    Each round's argmax collect re-executes the full replace chain since
    the last checkpoint, so without checkpoints total replace work grows
    quadratically in rounds (plan depth r at round r).  The frame is read
    once per round (reuse count 1), so per the repo's cadence doctrine a
    multi-round stride amortizes the checkpoint round-trip: at
    n_merges=50 / sf0.01, interleaved A/B (min of 2) measured
    no-checkpoint 8.5s, stride-8 5.4s, stride-4 5.0s, stride-1 5.8s —
    stride 4 wins because the vocab frame is word-type-bounded (tiny to
    persist) while replace-chain recompute is not; the gap widens with
    n_merges as the uncheckpointed chain deepens."""
    cur = words
    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        top = (
            cur.select(F.explode(adjacent_pairs(F.col("s"))).alias("p"), "freq")
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "p")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["p"], int(top[0]["cnt"])
        a, b = pair.split(" ")
        merged = a + b
        merges.append((r, pair, merged, cnt))
        # Column-expression replace (F.lit quotes apostrophes/backslashes a
        # corpus-derived symbol may contain — SQL-text interpolation would
        # not).  Applied twice: a single left-to-right pass consumes each
        # match's trailing space, skipping every other back-to-back
        # occurrence; the skipped ones are never adjacent, so pass 2
        # merges the remainder = BPE merge-every-occurrence semantics.
        search, repl = F.lit(f" {a} {b} "), F.lit(f" {merged} ")
        padded = F.concat(F.lit(" "), F.col("s"), F.lit(" "))
        cur = cur.select(
            F.trim(F.replace(F.replace(padded, search, repl), search, repl))
            .alias("s"),
            "freq",
        )
        if (r + 1) % stride == 0:
            cur = cur.localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, schema="rank long, pair string, merged string, cnt long"
    )


def _merge_ctes(n_merges: int, duck_tokens_all: str) -> list[str]:
    """The shared DuckDB CTE chain replaying the fit: w0 (word freqs),
    then per round p{r} (pairs) / b{r} (argmax) / w{r+1} (replace)."""
    # MATERIALIZED on every round CTE: w{r} is read twice (pair counts +
    # the replace) and b{r} twice (replace + final union), and DuckDB's
    # default inlining re-evaluates the whole merge chain per reference —
    # 9.3 s -> ~1 s for the 10-round fit at sf0.01.
    parts = [
        f"""w0 AS MATERIALIZED (
        SELECT array_to_string(string_split(t, ''), ' ') AS s, freq FROM (
            SELECT t, count(*) AS freq FROM (
                SELECT unnest({duck_tokens_all}) AS t FROM documents
            ) GROUP BY t
        )
    )"""
    ]
    for r in range(n_merges):
        parts.append(
            f"""p{r} AS MATERIALIZED (
        SELECT unnest(pr) AS p, freq FROM (
            SELECT [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] AS pr,
                   freq
            FROM (SELECT string_split(s, ' ') AS t, freq FROM w{r})
        )
    ), b{r} AS MATERIALIZED (
        SELECT p, CAST(sum(freq) AS BIGINT) AS cnt FROM p{r}
        GROUP BY p ORDER BY cnt DESC, p LIMIT 1
    ), w{r + 1} AS MATERIALIZED (
        -- double replace: pass 2 catches the alternating back-to-back
        -- occurrences pass 1 skips (delimiter-space consumption)
        SELECT trim(replace(
                   replace(' ' || s || ' ', ' ' || p || ' ',
                           ' ' || replace(p, ' ', '') || ' '),
                   ' ' || p || ' ', ' ' || replace(p, ' ', '') || ' ')
               ) AS s, freq
        FROM w{r}, b{r}
    )"""
        )
    return parts


def bpe_oracle(n_merges: int, duck_tokens_all: str) -> str:
    """DuckDB replay of the fit: the identical ``n_merges`` unrolled CTE
    rounds (pair counts -> deterministic argmax -> replace), over the
    same word-frequency base."""
    parts = _merge_ctes(n_merges, duck_tokens_all)
    unions = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, p AS pair,"
        f" replace(p, ' ', '') AS merged, cnt FROM b{r}"
        for r in range(n_merges)
    )
    return "WITH " + ", ".join(parts) + " " + unions


def bpe_encode_oracle(n_merges: int, duck_tokens_all: str) -> str:
    """DuckDB replay of ENCODING the corpus with the fitted merges: the
    same b0..b{n-1} merge chain, then every document word runs the
    identical double-replace per rank and the per-doc token counts roll
    up.  Each enc{r} is referenced exactly once (linear chain, safe to
    inline); the word explode is MATERIALIZED because every merge round
    rewrites it."""
    parts = _merge_ctes(n_merges, duck_tokens_all)
    parts.append(
        f"""enc0 AS MATERIALIZED (
        SELECT doc_id,
               array_to_string(string_split(w, ''), ' ') AS s,
               length(w) AS wc
        FROM (SELECT doc_id, unnest({duck_tokens_all}) AS w FROM documents)
    )"""
    )
    for r in range(n_merges):
        parts.append(
            f"""enc{r + 1} AS (
        SELECT doc_id,
               trim(replace(
                   replace(' ' || s || ' ', ' ' || p || ' ',
                           ' ' || replace(p, ' ', '') || ' '),
                   ' ' || p || ' ', ' ' || replace(p, ' ', '') || ' ')
               ) AS s, wc
        FROM enc{r}, b{r}
    )"""
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f"""
    SELECT doc_id,
           count(*) AS n_words,
           CAST(sum(len(string_split(s, ' '))) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(wc) AS BIGINT) AS sum_chars,
           {floor_eps_sql("sum(wc)::DOUBLE / sum(len(string_split(s, ' ')))", 10000)}
               AS fertility_e4
    FROM enc{n_merges} GROUP BY doc_id
    """
    )
